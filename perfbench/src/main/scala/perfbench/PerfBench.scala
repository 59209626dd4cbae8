package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.InvertedIndex

/** JVM half of the benchmark; `perfbench/run.py` starts it and checks
  * its outputs. It calls the engine only through public entry points:
  * `SparkEntry.queries`, `InvertedIndex.buildIndexFromManifest` and
  * `InvertedIndex.writeLetterFiles`.
  *
  * A run sets up, runs `--warmup` untimed passes (the first one writes
  * its outputs for the check), then timed passes for `--seconds`, then
  * with `--trace 1` one traced pass, and writes its result to `--out`.
  *
  * One operation is one query (or one index job): build the DataFrame,
  * then run its action. Each pass starts from an empty cache and a fresh
  * output directory, so no pass reuses another's results.
  */
object PerfBench {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Op(name: String, build: SparkSession => DataFrame,
      action: (DataFrame, Path, Boolean) => Unit)

  final case class OpRun(name: String, error: Option[String],
      startNs: Long, buildEndNs: Long, endNs: Long) {
    def buildS: Double = (buildEndNs - startNs) / 1e9
    def actionS: Double = (endNs - buildEndNs) / 1e9
    def wallS: Double = (endNs - startNs) / 1e9
  }

  final case class Pass(kind: String, index: Int, dir: Path, startNs: Long, endNs: Long,
      cpuS: Double, ops: Seq[OpRun]) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    run(args, Paths.get(args("out")))
    // the engine's scratch directories are reaped by a shutdown hook
    sys.exit(0)
  }

  /** The session `graft.Bench` builds, on `local[cores]`, plus one
    * trivial query: the end of set-up. */
  private def setUp(args: Map[String, String]): SparkSession = {
    val cores = args("cores")
    val work = Paths.get(args("work"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    sessionMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(8).selectExpr("sum(id)").collect()
    spark
  }

  /** When `setUp` had built the session, before its trivial query. */
  private var sessionMs = 0L

  private def operations(args: Map[String, String]): Seq[Op] = {
    val queryOps = args.get("queries").toSeq.flatMap(_.split(",")).map { name =>
      val fn = SparkEntry.queries(name)
      val sfDir = args("sf")
      Op(name, spark => fn(spark, sfDir), (df, dir, check) =>
        if (check) df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
        else df.write.format("noop").mode("overwrite").save())
    }
    val indexOps = args.get("manifest").toSeq.map { manifest =>
      Op("inverted_index", spark => InvertedIndex.buildIndexFromManifest(spark, manifest),
        (df, dir, _) => InvertedIndex.writeLetterFiles(df, dir.resolve("index").toString))
    }
    val injected =
      if (args.get("inject-failure").contains("1"))
        Seq(Op("injected_failure", _ => throw new IllegalStateException("injected failure"),
          (_, _, _) => ()))
      else Seq.empty
    queryOps ++ indexOps ++ injected
  }

  private def run(args: Map[String, String], out: Path): Unit = {
    val spark = setUp(args)
    val readyMs = System.currentTimeMillis()
    val cores = args("cores").toInt
    val runDir = Paths.get(args("work"))
    val ops = operations(args)
    val order = new Random(args("seed").toLong)
    val passes = mutable.ArrayBuffer.empty[Pass]

    def pass(kind: String, index: Int, check: Boolean, tracer: Option[Tracer]): Pass = {
      spark.catalog.clearCache()
      val dir = Files.createDirectories(runDir.resolve(f"$kind-$index%02d"))
      System.gc()
      val cpu0 = processCpuSeconds()
      val t0 = System.nanoTime()
      val runs = order.shuffle(ops).map(op => runOp(spark, op, dir, check, tracer))
      val t1 = System.nanoTime()
      val p = Pass(kind, index, dir, t0, t1, processCpuSeconds() - cpu0, runs)
      passes += p
      p
    }

    (0 until args("warmup").toInt).foreach(i => pass("warmup", i, check = i == 0, None))
    val timedStart = System.nanoTime()
    var k = 0
    while (k == 0 || (System.nanoTime() - timedStart) / 1e9 < args("seconds").toDouble) {
      pass("timed", k, check = false, None)
      k += 1
    }
    val traced = if (args("trace") == "1") Some(tracedPass(spark, cores, passes.toSeq, pass)) else None
    val result = Map(
      "ready_ms" -> readyMs,
      "session_ms" -> sessionMs,
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master,
      "oracle_sql" -> ops.map(o => o.name -> SparkEntry.oracleSql.get(o.name).orNull).toMap,
      "passes" -> passes.map(p => Map(
        "kind" -> p.kind, "index" -> p.index, "dir" -> p.dir.toString,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "error" -> o.error.orNull,
          "wall_s" -> o.wallS, "build_s" -> o.buildS, "action_s" -> o.actionS)))),
      "peak_rss_mb" -> peakRssMb(),
      "layers" -> traced.map(_._1).orNull,
      "layers_by_op" -> traced.map(_._2).orNull)
    writeJson(out, result)
    spark.stop()
  }

  private def runOp(spark: SparkSession, op: Op, dir: Path, check: Boolean,
      tracer: Option[Tracer]): OpRun = {
    def mark(phase: String): Unit =
      if (tracer.isDefined) Bus.post(spark.sparkContext, PhaseMark(op.name, phase))
    mark("build")
    val t0 = System.nanoTime()
    var t1 = -1L
    val error =
      try {
        val df = op.build(spark)
        t1 = System.nanoTime()
        mark("action")
        op.action(df, dir, check)
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val t2 = System.nanoTime()
    mark("idle")
    OpRun(op.name, error, t0, if (t1 < 0) t2 else t1, t2)
  }

  /** One more pass with the tracer attached; returns the per-layer
    * metrics and the same split per operation, and writes the spans. */
  private def tracedPass(spark: SparkSession, cores: Int, passes: Seq[Pass],
      pass: (String, Int, Boolean, Option[Tracer]) => Pass)
      : (Map[String, Double], Map[String, Map[String, Double]]) = {
    val sc = spark.sparkContext
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val epochMs = System.currentTimeMillis()
    val epochNs = System.nanoTime()
    val p = pass("traced", 0, false, Some(tracer))
    Bus.drain(sc)
    spark.listenerManager.unregister(tracer)
    sc.removeSparkListener(tracer)
    val untraced = median(passes.filter(_.kind == "timed").map(_.wallS).toSeq)
    def toMs(ns: Long): Double = epochMs + (ns - epochNs) / 1e6
    Spans.write(p.dir.resolve("trace.json"), p, tracer, toMs)
    Layers.of(p, tracer, cores, untraced)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** User plus system CPU of this process, from /proc (clock ticks of 10 ms). */
  private def processCpuSeconds(): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val fields = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (fields(11).toLong + fields(12).toLong) / 100.0
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def writeJson(path: Path, value: Any): Unit =
    Files.writeString(path, mapper.writeValueAsString(value))
}
