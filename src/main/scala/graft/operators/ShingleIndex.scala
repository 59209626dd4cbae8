package graft.operators

/** In-memory inverted index over hashed shingle sets — the paper's
  * word → documents structure, built on the driver and broadcast once
  * for [[Dedup.ngramJaccardPairsBrute]]'s pair kernel.
  *
  * Documents are indexed in ascending id order. Every element of a
  * document's sorted hash array becomes one term: the k-th copy of a
  * hash inside one array (two distinct shingles colliding in 64 bits)
  * is its own term (hash, k), so a shared term counts min(copies in a,
  * copies in b) — exactly what the sorted merge of
  * [[graft.plans.TextSketchExprs.SortedJaccardExpr]] counts — and a
  * document's term count is its array length, the merge's set size.
  * Terms get dense int ids; each posting list holds doc indices in
  * ascending order (compressed-sparse-row layout, two flat int arrays).
  *
  * [[probe]] counts |a∩b| for every later document b sharing a term with
  * probe a by walking a's posting lists into an int counter: Σ df²/2
  * increments for the whole corpus instead of one array merge per
  * document pair, and independent of θ. */
private[graft] final class ShingleIndex private (
    val ids: Array[Long],      // per doc index, ascending
    docOff: Array[Int],        // doc i's terms: terms(docOff(i) until docOff(i + 1))
    terms: Array[Int],
    postOff: Array[Int],       // term t's docs: post(postOff(t) until postOff(t + 1))
    post: Array[Int],
    later: Array[Int]          // first doc index whose id is > ids(i)
) extends Serializable {

  def numDocs: Int = ids.length

  /** Array length of doc i's hashed shingles (duplicates included). */
  def size(i: Int): Int = docOff(i + 1) - docOff(i)

  /** Calls `emit(b, inter)` for every doc b with a larger id than a's
    * that shares a term with a and whose Jaccard inter / (|a| + |b| −
    * inter) is at least `minJ`. `counter` and `touched` are per-task
    * scratch of length [[numDocs]]; `counter` must be all zero on entry
    * and is left all zero. */
  def probe(a: Int, minJ: Double, counter: Array[Int], touched: Array[Int])(
      emit: (Int, Int) => Unit): Unit = {
    val from = later(a)
    var nTouched = 0
    var k = docOff(a)
    while (k < docOff(a + 1)) {
      val t = terms(k)
      val end = postOff(t + 1)
      var p = java.util.Arrays.binarySearch(post, postOff(t), end, from)
      if (p < 0) p = -p - 1
      while (p < end) {
        val b = post(p)
        if (counter(b) == 0) { touched(nTouched) = b; nTouched += 1 }
        counter(b) += 1
        p += 1
      }
      k += 1
    }
    val sa = size(a)
    var i = 0
    while (i < nTouched) {
      val b = touched(i)
      val inter = counter(b)
      counter(b) = 0
      if (inter >= minJ * (sa + size(b) - inter)) emit(b, inter)
      i += 1
    }
  }
}

private[graft] object ShingleIndex {

  /** Builds the index; `sets(i)` is document `docIds(i)`'s hashed
    * shingles sorted ascending. Ids need not be sorted, contiguous or
    * distinct (equal ids never pair, as under a `<` join condition). */
  def apply(docIds: Array[Long], sets: Array[Array[Long]]): ShingleIndex = {
    require(docIds.length == sets.length, "one shingle array per document")
    val order = docIds.indices.sortBy(docIds(_)).toArray
    val ids = order.map(docIds)
    val docs = order.map(sets)
    val docOff = docs.scanLeft(0)(_ + _.length)
    val n = docOff.last

    // dense ids: first copies by binary search in the sorted distinct
    // hashes; repeated copies (a 64-bit collision inside one document)
    // get ids past them from a small map
    val distinct = {
      val all = new Array[Long](n)
      var off = 0
      docs.foreach { d => System.arraycopy(d, 0, all, off, d.length); off += d.length }
      java.util.Arrays.sort(all)
      var m = 0
      var i = 0
      while (i < n) { if (m == 0 || all(m - 1) != all(i)) { all(m) = all(i); m += 1 }; i += 1 }
      java.util.Arrays.copyOf(all, m)
    }
    val copies = collection.mutable.HashMap.empty[(Long, Int), Int]
    val terms = new Array[Int](n)
    var i = 0
    while (i < docs.length) {
      val d = docs(i)
      var j = 0; var copy = 0
      while (j < d.length) {
        require(j == 0 || d(j - 1) <= d(j), s"shingle array of doc ${ids(i)} is not sorted")
        copy = if (j > 0 && d(j - 1) == d(j)) copy + 1 else 0
        terms(docOff(i) + j) =
          if (copy == 0) java.util.Arrays.binarySearch(distinct, d(j))
          else copies.getOrElseUpdate((d(j), copy), distinct.length + copies.size)
        j += 1
      }
      i += 1
    }

    val numTerms = distinct.length + copies.size
    val postOff = new Array[Int](numTerms + 1)
    terms.foreach(t => postOff(t + 1) += 1)
    var t = 0
    while (t < numTerms) { postOff(t + 1) += postOff(t); t += 1 }
    val fill = postOff.clone()
    val post = new Array[Int](n)
    i = 0
    while (i < docs.length) {
      var k = docOff(i)
      while (k < docOff(i + 1)) { post(fill(terms(k))) = i; fill(terms(k)) += 1; k += 1 }
      i += 1
    }

    val later = new Array[Int](ids.length)
    i = ids.length - 1
    while (i >= 0) {
      later(i) = if (i + 1 < ids.length && ids(i + 1) == ids(i)) later(i + 1) else i + 1
      i -= 1
    }
    new ShingleIndex(ids, docOff, terms, postOff, post, later)
  }
}
