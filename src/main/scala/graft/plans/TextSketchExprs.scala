package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions over a (shingle/word) `array<string>`
  * column. Each replaces an explode → shuffle → k-way aggregate
  * pipeline with a single narrow per-row evaluation: at 100 TB that
  * removes the sketch stage's shuffle entirely (signatures become a map
  * over the corpus; only the tiny banded keys shuffle afterwards).
  * Values are identical to the built-in formulations, so the DuckDB
  * oracles are unchanged.
  */
object TextSketchExprs {

  /** Per-thread reusable MD5 instance — MessageDigest is not
    * thread-safe, and allocating one per row is measurable overhead in
    * exactly the expressions whose point is per-row efficiency. */
  private[plans] object Md5Pool {
    private val local = new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
    }
    def get(): MessageDigest = { val m = local.get(); m.reset(); m }
  }

  /** Per-thread bounded memo table for per-token digest work. Corpus
    * vocabulary is Zipfian: the same few thousand words dominate every
    * document, so caching token → precomputed digest material turns the
    * k-hashes-per-occurrence cost into k-hashes-per-distinct-word-per-
    * executor-thread. Bounded LRU (access-order LinkedHashMap) so an
    * adversarial vocabulary can't OOM an executor; per-thread so there
    * is no lock on the hot path. */
  private[plans] final class TokenMemo[V](maxEntries: Int) {
    private val local = new ThreadLocal[java.util.LinkedHashMap[UTF8String, V]] {
      override def initialValue() =
        new java.util.LinkedHashMap[UTF8String, V](1024, 0.75f, true) {
          override def removeEldestEntry(e: java.util.Map.Entry[UTF8String, V]): Boolean =
            size() > maxEntries
        }
    }
    def getOrCompute(key: UTF8String, f: Array[Byte] => V): V = {
      val m = local.get()
      // probe with the incoming UTF8String directly (it has proper
      // equals/hashCode) — decoding to java String per lookup would
      // allocate on every token occurrence, the exact cost the memo
      // exists to remove
      val got = m.get(key)
      if (got != null) got
      else {
        val v = f(key.getBytes)
        // the incoming key may point into a reused row buffer — store a
        // stable copy
        m.put(key.clone(), v)
        v
      }
    }
  }

  /** Process-wide memo pool keyed by sketch configuration. Expression
    * instances are deserialized once per TASK — a memo owned by the
    * instance would reset its hit-rate every task and strand stale
    * per-thread maps on the executor's pool threads. One shared memo
    * per (kind, width) keeps the cache warm across tasks and bounds
    * total retention to #configs × #threads × maxEntries. */
  private[plans] object TokenMemos {
    private val pool = new java.util.concurrent.ConcurrentHashMap[String, TokenMemo[AnyRef]]()
    def forKey[V <: AnyRef](key: String, maxEntries: Int): TokenMemo[V] =
      pool.computeIfAbsent(key, _ => new TokenMemo[AnyRef](maxEntries))
        .asInstanceOf[TokenMemo[V]]
  }

  /** MinHash signature: element j is the hex-min over shingles of
    * `md5("$j|" + shingle)` — exactly [[graft.functions.TextFunctions.minhashAgg]]
    * computed with one reused digest and no row explosion. Null for an
    * empty shingle array (mirrors groupBy-over-nothing semantics). */
  case class MinHashSignatureExpr(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = true

    @transient private lazy val salts: Array[Array[Byte]] =
      Array.tabulate(k)(j => s"$j|".getBytes("UTF-8"))
    // shingle → its k digests, memoized process-wide per config. Entry
    // cost scales with k (k × 16-byte digests), so the bound is a BYTE
    // budget (~5 MiB/thread), not a fixed count — minhash(words, 1024)
    // must not pin 50× the memory of k=12
    @transient private lazy val memo =
      TokenMemos.forKey[Array[Array[Byte]]](s"minhash:$k",
        math.max(1024, (5 << 20) / (math.max(1, k) * 16)))

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      if (k == 0) return new GenericArrayData(new Array[Any](0))
      val mins = new Array[Array[Byte]](k)
      var i = 0
      while (i < n) {
        val elem = arr.getUTF8String(i) // skip null elements (SQL-surface input)
        if (elem != null) {
          val ds = memo.getOrCompute(elem, bytes => {
            val md = Md5Pool.get()
            Array.tabulate(k) { j =>
              md.reset(); md.update(salts(j)); md.update(bytes); md.digest()
            }
          })
          var j = 0
          while (j < k) {
            val d = ds(j)
            if (mins(j) == null || unsignedLess(d, mins(j))) mins(j) = d
            j += 1
          }
        }
        i += 1
      }
      // every element was null → no shingle contributed; the groupBy
      // formulation would produce no row, so the signature is null (a
      // bare mins.map would NPE in hex)
      if (mins(0) == null) return null
      new GenericArrayData(mins.map(d => UTF8String.fromString(hex(d))))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "minhash_signature"
  }

  /** SimHash bit-string: bit p is 1 iff the sum over words of
    * ±1(md5("sh$p|" + word)) is ≥ 0, where the sign is + when the
    * digest's first hex nibble is ≤ '7'. Token multiplicity counts
    * (term-frequency weighting). Null for an empty word array. */
  case class SimHashExpr(child: Expression, bits: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true

    @transient private lazy val salts: Array[Array[Byte]] =
      Array.tabulate(bits)(p => s"sh$p|".getBytes("UTF-8"))
    // word → sign bitmasks packed into ceil(bits/64) longs (bit p set
    // ⇔ +1), memoized process-wide per width — arbitrary bit widths
    // keep working (the registered SQL simhash(array, bits) has no
    // width bound)
    @transient private lazy val memo =
      TokenMemos.forKey[Array[Long]](s"simhash:$bits", 20000)

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val sums = new Array[Int](bits)
      var contributed = false
      var i = 0
      while (i < n) {
        val elem = arr.getUTF8String(i) // skip null elements (SQL-surface input)
        if (elem != null) {
          contributed = true
          val masks = memo.getOrCompute(elem, bytes => {
            val md = Md5Pool.get()
            val m = new Array[Long]((bits + 63) / 64)
            var p = 0
            while (p < bits) {
              md.reset(); md.update(salts(p)); md.update(bytes)
              // first hex nibble <= '7'  ⇔  signed first byte >= 0
              if (md.digest()(0) >= 0) m(p >> 6) |= (1L << (p & 63))
              p += 1
            }
            m
          })
          var p = 0
          while (p < bits) {
            sums(p) += (if (((masks(p >> 6) >> (p & 63)) & 1L) == 1L) 1 else -1)
            p += 1
          }
        }
        i += 1
      }
      // no element contributed (all-null array) → null signature, same
      // degenerate-input semantics as MinHashSignatureExpr — an all-'1'
      // fallthrough would collide every such doc on one signature
      if (!contributed) return null
      val sb = new java.lang.StringBuilder(bits)
      var p = 0
      while (p < bits) { sb.append(if (sums(p) >= 0) '1' else '0'); p += 1 }
      UTF8String.fromString(sb.toString)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "simhash"
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private def hex(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** Jaccard similarity of two SORTED, DISTINCT `array<string>` (or
    * `array<bigint>`, for pre-hashed shingles) columns via a single
    * merge pass — no per-pair hash-set build, no intermediate array
    * (contrast `array_intersect`, which allocates a set and an output
    * array per call). The refine stages ([[graft.operators.Dedup.jaccardRefine]],
    * [[graft.operators.Dedup.weightedJaccardRefine]]) evaluate it once
    * per candidate PAIR, so it is their innermost loop. Inputs MUST be
    * sorted ascending (UTF8 binary order / signed long order — both
    * `sort_array`'s order) and de-duplicated (`array_distinct`) — the
    * caller's contract, asserted cheap (both-empty → 0.0, never NaN).
    * The long variant is the refine-stage hot path: primitive arrays
    * are Tungsten-packed (8 B/element vs offset+bytes for strings) and
    * compare in one branch instead of a byte loop. */
  case class SortedJaccardExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    private lazy val longElems = left.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(t: DataType) = t match {
        case ArrayType(StringType, _) | ArrayType(LongType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && left.dataType == right.dataType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jaccard_sorted requires matching ARRAY<STRING> or ARRAY<BIGINT> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val aa = a.asInstanceOf[ArrayData]; val bb = b.asInstanceOf[ArrayData]
      val na = aa.numElements(); val nb = bb.numElements()
      var i = 0; var j = 0; var inter = 0
      if (longElems) {
        // primitive fast path: UnsafeArrayData.getLong is a direct word
        // read; no per-element null checks needed (xxhash64 never null
        // on non-null input, and transform preserves array nullability
        // only when elements can be null — guarded below anyway)
        while (i < na && j < nb) {
          if (aa.isNullAt(i) || bb.isNullAt(j)) return null
          val x = aa.getLong(i); val y = bb.getLong(j)
          if (x == y) { inter += 1; i += 1; j += 1 }
          else if (x < y) i += 1
          else j += 1
        }
        val union = na + nb - inter
        return if (union == 0) 0.0 else inter.toDouble / union
      }
      while (i < na && j < nb) {
        if (aa.isNullAt(i) || bb.isNullAt(j)) return null
        val cmp = aa.getUTF8String(i).binaryCompare(bb.getUTF8String(j))
        if (cmp == 0) { inter += 1; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
      val union = na + nb - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "jaccard_sorted"
  }

  def minhashSignature(shingles: Column, k: Int): Column =
    GraftColumnBridge.toColumn(MinHashSignatureExpr(GraftColumnBridge.toExpression(shingles), k))

  def simhash(words: Column, bits: Int): Column =
    GraftColumnBridge.toColumn(SimHashExpr(GraftColumnBridge.toExpression(words), bits))

  def jaccardSorted(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(SortedJaccardExpr(
      GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(b)))
}
