package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One benchmark step: a call into graft whose every result column is
  * materialized. `run` returns the step's digest (the same on every
  * pass, or the step failed) and, for the oracle, the result rows. */
final case class Step(name: String, family: String,
    run: SparkSession => Out)

/** `digest` identifies the result; `check` carries the rows the oracle
  * compares (JNothing when the step writes them to parquet instead);
  * `bytesIn`/`bytesOut` are container bytes scanned or written. */
final case class Out(digest: String, check: JValue = JNothing,
    bytesIn: Long = 0L, bytesOut: Long = 0L)

trait Workload {
  def steps: Seq[Step]
  /** Deletes persisted artifacts and step outputs, so a setup round
    * starts cold. Runs with no session alive. */
  def reset(): Unit
  /** Builds persisted artifacts a pass does not build by itself. */
  def buildArtifacts(spark: SparkSession): Unit = ()
  /** Whether each setup round also runs a pass: true where the artifacts
    * alone take too little time to measure steadily. */
  def passInSetup: Boolean = true
  /** DuckDB SQL of the steps that have one (`SparkEntry.oracleSql`). */
  def oracleSql: Map[String, String] = Map.empty
}

object Harness {

  final case class Args(workload: String, params: JValue, work: Path,
      seconds: Double, trace: Boolean, cores: Int, out: Path)

  /** Setup rounds per run; `setup_s` is their median. */
  val SetupRounds = 5

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    kv.get("--oracle-sql").foreach { out =>
      // the DuckDB oracle SQL of the named queries, for remaking the
      // cached oracle answers without a run
      val names = kv("--queries").split(",").toSeq
      val sql = graft.SparkEntry.oracleSql
      Files.write(Paths.get(out), JsonMethods.compact(JObject(
        names.map(n => JField(n, JString(sql(n)))).toList))
        .getBytes("UTF-8"))
      return
    }
    val a = Args(kv("--workload"),
      JsonMethods.parse(new String(Files.readAllBytes(Paths.get(
        kv("--params"))), "UTF-8")),
      Paths.get(kv("--work")), kv("--seconds").toDouble,
      kv("--trace") == "1", kv("--cores").toInt, Paths.get(kv("--out")))
    val result = new Runner(a).run()
    Files.write(a.out, JsonMethods.compact(JsonMethods.render(result))
      .getBytes("UTF-8"))
  }

  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .config("spark.graft.ann.indexDir",
        work.resolve("artifacts/ann").toString)
      .config("spark.graft.graph.dir",
        work.resolve("artifacts/graph").toString)
      .getOrCreate()

  /** The memo-clearing rule: every in-memory memo graft keeps is dropped
    * before each step, so a timed step does the work of a fresh query.
    * Persisted artifacts (IVF-PQ index, graph edge artifact, `.tsidx`
    * sidecars) stay on disk; they are built during setup. */
  def clearMemos(): Unit = {
    import graft.operators._
    TextAnalysis.clearSpanMemo()
    MediaDedup.clearMemos(); MediaDedup.clearIdxMemos()
    Dedup.clearRelMemos(); Dedup.clearIdxMemos(); Dedup.clearDigestMemos()
    Similarity.clearMemos(); Similarity.clearPcaMemo()
    Clustering.clearMemos()
    Graph.clearMemos()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(x => Files.isRegularFile(x)).mapToLong(x => Files.size(x))
        .sum()
      finally s.close()
    }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xFF}%02x").mkString

  def jv(v: Any): JValue = v match {
    case null => JNull
    case s: String => JString(s)
    case i: Int => JLong(i.toLong)
    case l: Long => JLong(l)
    case d: Double => if (d.isNaN) JString("NaN") else JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case b: Boolean => JBool(b)
    case d: java.math.BigDecimal => JString(d.toPlainString)
    case b: Array[Byte] => JString(b.map(x => f"${x & 0xFF}%02x").mkString)
    case s: scala.collection.Seq[_] => JArray(s.map(jv).toList)
    case r: Row => JArray(r.toSeq.map(jv).toList)
    case o => JString(o.toString)
  }

  /** Collects a (small) result: every column is materialized by the
    * collect; the digest is over the sorted rows. */
  def collected(df: DataFrame, bytesIn: Long = 0L): Out = {
    val rows = df.collect().map(r => JsonMethods.compact(jv(r))).sorted
    Out(md5Hex(rows.mkString("\n")),
      JArray(rows.map(r => JsonMethods.parse(r)).toList), bytesIn)
  }

  /** Hashes every column of every row inside Spark (no collect of the
    * rows, and unlike count() no column can be pruned away). */
  def hashed(df: DataFrame): Out = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")),
        bit_xor(col("h")))
      .head()
    Out(s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}")
  }

  def str(p: JValue, k: String): String = (p \ k).asInstanceOf[JString].s
  def num(p: JValue, k: String): Long = p \ k match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d.toLong
    case o => sys.error(s"param $k: $o")
  }
  def nums(p: JValue, k: String): Seq[Long] = p \ k match {
    case JArray(xs) => xs.map {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case o => sys.error(s"param $k: $o")
    }
    case o => sys.error(s"param $k: $o")
  }
}

/** Runs the setup rounds, the warm-up pass, then timed passes for the
  * run length; in a traced run the second half of the passes carries the
  * tracer, and the layer probes run last. */
final class Runner(a: Harness.Args) {
  import Harness._

  private val wl: Workload = a.workload match {
    case "capture_scan" => new CaptureScan(a.params, a.work)
    case "corpus_pipeline" => new CorpusPipeline(a.params, a.work)
    case "archive_roundtrip" => new ArchiveRoundtrip(a.params, a.work)
    case other => sys.error(s"unknown workload $other")
  }
  private val steps = wl.steps
  private val reference = scala.collection.mutable.Map[String, String]()
  private val attempted = scala.collection.mutable.Map[String, Int]()
  private val failed = scala.collection.mutable.Map[String, Int]()
  private val errors = scala.collection.mutable.ArrayBuffer[String]()
  private var spark: SparkSession = _
  private var tracer: Tracer = _

  /** One step: clear memos, time the call, compare the digest with the
    * warm-up pass. Returns (wall seconds, out), or None on failure. */
  private def runStep(st: Step, first: Boolean): Option[(Double, Out)] = {
    attempted(st.name) = attempted.getOrElse(st.name, 0) + 1
    clearMemos()
    if (tracer != null) tracer.beginStep(st.name, st.family)
    val t0 = System.nanoTime()
    val res = try Right(st.run(spark)) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    if (tracer != null) tracer.endStep(spark.sparkContext)
    res match {
      case Right(o) if first =>
        reference(st.name) = o.digest
        Some((wall, o))
      case Right(o) if reference.get(st.name).contains(o.digest) =>
        Some((wall, o))
      case Right(o) =>
        failed(st.name) = failed.getOrElse(st.name, 0) + 1
        errors += s"${st.name}: digest ${o.digest} != ${reference.get(st.name)}"
        None
      case Left(e) =>
        failed(st.name) = failed.getOrElse(st.name, 0) + 1
        errors += s"${st.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        e.printStackTrace()
        None
    }
  }

  def run(): JValue = {
    // Setup rounds: a fresh session plus the persisted artifacts, built
    // from nothing each round, and on most workloads one pass; setup_s is
    // their median. The first round also pays the JVM's cold start. The
    // first pass run (in the first round, or after the rounds) is the
    // warm-up pass: it takes each step's reference digest and the rows
    // the oracles check.
    val setupTimes = scala.collection.mutable.ArrayBuffer[Double]()
    val checks = scala.collection.mutable.LinkedHashMap[String, JValue]()
    val firstOut = scala.collection.mutable.Map[String, Out]()
    def setupPass(first: Boolean): Unit = steps.foreach { st =>
      runStep(st, first).foreach { case (_, o) =>
        if (first) { checks(st.name) = o.check; firstOut(st.name) = o }
      }
    }
    for (r <- 0 until SetupRounds) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      clearMemos()
      wl.reset()
      spark = session(a.cores, a.work)
      spark.sparkContext.setLogLevel("ERROR")
      System.err.println(
        f"[harness] session ${(System.nanoTime() - t0) / 1e9}%.3f s")
      wl.buildArtifacts(spark)
      if (wl.passInSetup) setupPass(first = r == 0)
      setupTimes += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[harness] setup round ${setupTimes.last}%.3f s")
    }
    if (!wl.passInSetup) setupPass(first = true)
    System.err.println("[harness] warm-up pass done")

    val samples = steps.map(s => s.name ->
      scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val outs = scala.collection.mutable.Map[String, Out]()
    val passWalls = scala.collection.mutable.ArrayBuffer[Double]()
    val tracedWalls = scala.collection.mutable.ArrayBuffer[Double]()
    def pass(into: scala.collection.mutable.ArrayBuffer[Double],
        keepSamples: Boolean): Unit = {
      val t0 = System.nanoTime()
      var ok = true
      steps.foreach { st =>
        runStep(st, first = false) match {
          case Some((w, o)) =>
            if (keepSamples) samples(st.name) += w
            outs(st.name) = o
          case None => ok = false
        }
      }
      if (ok) into += (System.nanoTime() - t0) / 1e9
      System.err.println(
        f"[harness] pass ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    val untracedEnd = System.nanoTime() +
      ((if (a.trace) a.seconds / 2 else a.seconds) * 1e9).toLong
    do pass(passWalls, keepSamples = true)
    while (System.nanoTime() < untracedEnd)

    var layer: JValue = JNothing
    var spans: JValue = JNothing
    if (a.trace) {
      tracer = new Tracer(a.cores, a.workload)
      spark.sparkContext.addSparkListener(tracer)
      val tracedEnd = System.nanoTime() + (a.seconds / 2 * 1e9).toLong
      do pass(tracedWalls, keepSamples = false)
      while (System.nanoTime() < tracedEnd)
      val ops = tracer.familyMetrics(tracedWalls.size max 1)
      val spanFile = a.work.resolve("spans.jsonl")
      val nSpans = tracer.writeSpans(spanFile)
      spark.sparkContext.removeSparkListener(tracer)
      tracer = null
      val probe = new Layers(spark, a.cores, a.params \ "probe", a.work)
      layer = JObject((ops ++ probe.run()).map { case (k, v) =>
        JField(k, JDouble(v)) }.toList)
      spans = JObject(List("file" -> JString(spanFile.toString),
        "count" -> JLong(nSpans)))
    }
    spark.stop()

    JObject(List(
      "workload" -> JString(a.workload),
      "cores" -> JLong(a.cores),
      "heap_mb" -> JLong(Runtime.getRuntime.maxMemory >> 20),
      "spark" -> JString(org.apache.spark.SPARK_VERSION),
      "setup_s" -> JArray(setupTimes.map(JDouble(_)).toList),
      "pass_s" -> JArray(passWalls.map(JDouble(_)).toList),
      "traced_pass_s" -> JArray(tracedWalls.map(JDouble(_)).toList),
      "steps" -> JArray(steps.map { st =>
        val o = outs.getOrElse(st.name, firstOut.getOrElse(st.name, Out("")))
        JObject(List(
          "name" -> JString(st.name), "family" -> JString(st.family),
          "wall_s" -> JArray(samples(st.name).map(JDouble(_)).toList),
          "attempted" -> JLong(attempted.getOrElse(st.name, 0).toLong),
          "failed" -> JLong(failed.getOrElse(st.name, 0).toLong),
          "bytes_in" -> JLong(o.bytesIn), "bytes_out" -> JLong(o.bytesOut),
          "digest" -> JString(reference.getOrElse(st.name, ""))))
      }.toList),
      "checks" -> JObject(checks.toList.map { case (k, v) => JField(k, v) }),
      "errors" -> JArray(errors.map(JString(_)).toList),
      "oracle_sql" -> JObject(wl.oracleSql.toList.map { case (k, v) =>
        JField(k, JString(v)) }),
      "layer" -> layer,
      "spans" -> spans))
  }
}
