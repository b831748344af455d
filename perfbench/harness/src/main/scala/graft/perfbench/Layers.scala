package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import Harness._

/** Layer probes of a traced run: each times one call into a graft
  * module from outside, on the probe inputs (a capture set, a documents
  * table and a zip directory, plus the reference capture set of the DNS
  * decode and scan figures), with every result column materialized.
  * Each figure is the median of three repetitions. */
final class Layers(spark: SparkSession, cores: Int, p: JValue, work: Path) {
  private val cap = str(p, "captures")
  private val docs = str(p, "documents")
  private val zipDir = str(p, "zip")
  private val ref = Paths.get(str(p, "reference"))
  private val Seq(w0, w1) = nums(p, "window")
  private val out = work.resolve("probe-out")
  private val capFiles: Seq[Path] = {
    val s = Files.list(Paths.get(cap))
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(f => f.toString.endsWith(".pcap") ||
        f.toString.endsWith(".pcapng")).sortBy(_.toString)
    finally s.close()
  }
  private val capBytes = capFiles.map(f => Files.size(f)).sum
  private val ngFiles = capFiles.filter(_.toString.endsWith(".pcapng"))

  private def median3(f: => Unit): Double = {
    val ts = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(1)
  }

  /** Single-threaded `PacketReaders.open` over the files: packets seen. */
  private def readAll(files: Seq[Path],
      opts: graft.pcap.DecodeOptions): Long = {
    var n = 0L
    files.foreach { f =>
      val in = new java.io.BufferedInputStream(
        Files.newInputStream(f), 1 << 20)
      try {
        val it = graft.pcap.PacketReaders.open(in, opts)
        while (it.hasNext) { it.next(); n += 1 }
      } finally in.close()
    }
    n
  }

  /** Runs `f` three times as traced steps `name.0` to `name.2`; returns
    * (median wall, the tracer). */
  private def traced(name: String)(f: => Unit): (Double, Tracer) = {
    val tr = new Tracer(cores, "probe")
    spark.sparkContext.addSparkListener(tr)
    var i = 0
    try {
      val w = median3 {
        tr.beginStep(s"$name.$i", "probe")
        i += 1
        try f finally tr.endStep(spark.sparkContext)
      }
      (w, tr)
    } finally spark.sparkContext.removeSparkListener(tr)
  }

  private def pcap(opts: (String, String)*): DataFrame =
    spark.read.format("pcap").options(opts.toMap).load(cap)

  def run(): Seq[(String, Double)] = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val mb = capBytes / 1e6

    // graft.pcap: single-threaded decode
    val plain = graft.pcap.DecodeOptions()
    var packets = 0L
    val tRead = median3 { packets = readAll(capFiles, plain) }
    m("pcap.read_mb_s") = mb / tRead
    m("pcap.read_pkts_s") = packets / tRead
    m("pcap.packets") = packets.toDouble
    m("pcap.pcapng_read_mb_s") = ngFiles.map(f => Files.size(f)).sum / 1e6 /
      median3 { readAll(ngFiles, plain) }

    // DNS decode, single-threaded and through the DSv2 scan on all cores,
    // on graft.Bench's decode input: `PcapSynth.ensureFile`, 32 classic
    // files of 8 MiB, 3/4 of the frames DNS queries (deterministic, kept
    // across runs), so these figures compare with those taken on it
    Files.createDirectories(ref)
    val refFiles = (0 until 32).map(i => ref.resolve(f"part$i%02d.pcap"))
    val refMb = refFiles.map(f =>
      graft.pcap.PcapSynth.ensureFile(f, 8L << 20)).sum / 1e6
    val dnsOpts = graft.pcap.DecodeOptions(
      appDecoder = Some(graft.pcap.DnsPayloadDecoder))
    val dnsRead = refMb / median3 { readAll(refFiles, dnsOpts) }
    m("pcap.dns_read_mb_s") = dnsRead
    val t0 = new Array[Long](1)
    val (tScan, trScan) = traced("scan") {
      t0(0) = System.currentTimeMillis()
      hashed(spark.read.format("pcap").option("decoder", "dns")
        .load(ref.toString).select("ts_micro", "src", "dst", "src_port",
          "dst_port", "protocol", "len", "dns_qname", "dns_qtype",
          "dns_answer"))
    }
    val scanMb = refMb / tScan
    m("sources.pcap.scan_mb_s") = scanMb
    m("sources.pcap.parallel_eff") = scanMb / (cores * dnsRead)
    val scanStages = trScan.stagesOf("scan.2")
    val firstScan = scanStages.filter(_.inputBytes > 0)
      .sortBy(_.id).headOption.getOrElse(scanStages.minBy(_.id))
    m("sources.pcap.partitions") = firstScan.tasks.toDouble
    val durs = firstScan.taskDurations.sorted
    m("sources.pcap.task_skew") =
      if (durs.isEmpty) 0.0 else durs.last.toDouble / math.max(1L,
        durs(durs.size / 2))
    // read call -> first task launch, on the last repetition (t0 holds
    // that repetition's start)
    val launch = scanStages.map(_.firstLaunch).filter(_ != Long.MaxValue)
    m("sources.plan_s") =
      if (launch.isEmpty) 0.0 else (launch.min - t0(0)) / 1e3

    // pruning and pushdown, on the probe capture set with its sidecars
    Sidecars.delete(cap)
    Sidecars.build(cap)
    var returned = 0L
    val (_, trWin) = traced("window") {
      returned = pcap().filter(col("ts") >= w0 && col("ts") < w1)
        .select("ts_micro", "len").collect().length.toLong
    }
    val winStages = trWin.stagesOf("window.2")
    m("sources.pcap.pruned_read_mb") = winStages.map(_.inputBytes).sum / 1e6
    m("sources.pcap.rows_scanned_per_row_returned") =
      winStages.map(_.records).sum.toDouble / math.max(1L, returned)
    def selective(push: Boolean): Double = median3 {
      val o = Seq("pushdown" -> push.toString,
        "countPushdown" -> push.toString)
      pcap(o: _*).filter(col("ts") >= w0 && col("ts") < w1)
        .agg(count(lit(1)), sum("len")).collect()
      pcap(o: _*).groupBy().count().collect()
    }
    val on = selective(push = true)
    m("sources.pcap.pushdown_speedup") = selective(push = false) / on

    // sinks and the other containers
    def writeProbe(name: String)(f: Path => Unit): Path = {
      val dst = out.resolve(name)
      val t = median3 { deleteTree(dst); f(dst) }
      m(s"sources.$name.write_mb_s") = treeBytes(dst) / 1e6 / t
      dst
    }
    writeProbe("pcap") { dst =>
      pcap().select("ts_micro", "frame").write.format("pcap")
        .mode("append").save(dst.toString)
    }
    val docDf = spark.read.parquet(docs)
    val warcDir = writeProbe("warc") { dst =>
      docDf.select(concat(lit("http://docs.example/d"), col("doc_id"))
          .as("url"), encode(col("text"), "UTF-8").as("payload"))
        .write.format("warc").mode("append").save(dst.toString)
    }
    val wdsDir = writeProbe("wds") { dst =>
      docDf.select(col("doc_id").cast("string").as("key"),
          encode(col("text"), "UTF-8").as("txt"))
        .write.format("wds").mode("append").save(dst.toString)
    }
    def scanProbe(name: String, dir: Path)(cols: DataFrame => DataFrame)
        : Unit = {
      val t = median3 {
        hashed(cols(spark.read.format(name).load(dir.toString)))
      }
      m(s"sources.$name.scan_mb_s") = treeBytes(dir) / 1e6 / t
    }
    scanProbe("warc", warcDir)(_.select("url", "rec_type", "payload"))
    scanProbe("wds", wdsDir)(_.select("key", "ext", "data"))
    scanProbe("zip", Paths.get(zipDir))(_.select("entry", "size", "data"))

    // graft.functions: one expression over a generated, cached column
    import graft.functions.Md5Prefix.md5_prefix
    import graft.functions.VecSqDist.vec_sqdist
    import graft.functions.AdcLutSum.adc_lut_sum
    val n = 400000L
    val bins = spark.range(n)
      .select(encode(sha2(col("id").cast("string"), 256), "UTF-8").as("b"))
      .cache()
    bins.count()
    m("functions.md5_prefix_rows_s") = n / median3 {
      bins.agg(sum(md5_prefix(col("b"), 12).cast("decimal(38,0)"))).collect()
    }
    bins.unpersist()
    val nv = 100000L
    val vecs = spark.range(nv).select(
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") + i)).as("a"),
      transform(sequence(lit(0), lit(63)),
        i => cos(col("id") * 0.5 + i)).as("b"),
      transform(sequence(lit(0), lit(15)),
        i => (pmod(col("id") + i * 7, lit(256))).cast("int")).as("codes"))
      .cache()
    vecs.count()
    m("functions.vec_sqdist_rows_s") = nv / median3 {
      vecs.agg(sum(vec_sqdist(col("a"), col("b")))).collect()
    }
    val lut = typedLit((0 until 16 * 256).map(i => math.sin(i.toDouble)))
    m("functions.adc_lut_sum_rows_s") = nv / median3 {
      vecs.agg(sum(adc_lut_sum(lut, col("codes"), 256))).collect()
    }
    vecs.unpersist()
    val segs = pcap().filter(col("protocol") === "TCP" &&
        col("len") > 0)
      .select("src", "src_port", "dst", "dst_port", "tcp_seq", "pkt_idx",
        "payload").cache()
    val segBytes = segs.agg(sum(length(col("payload")))).head().getLong(0)
    m("functions.reassemble_mb_s") = segBytes / 1e6 / median3 {
      segs.groupBy("src", "src_port", "dst", "dst_port")
        .agg(graft.functions.Reassemble.stream().as("r"))
        .agg(sum(length(col("r.stream")))).collect()
    }
    segs.unpersist()
    m.toSeq
  }
}
