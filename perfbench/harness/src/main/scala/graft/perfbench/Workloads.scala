package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import Harness._

/** Capture files read through `format("pcap")`: full-decode
  * aggregations, selective reads, and TCP reassembly. */
final class CaptureScan(p: JValue, work: Path) extends Workload {
  private val cap = str(p, "captures")
  private val capBytes = treeBytes(Paths.get(cap))
  private val Seq(w0, w1) = nums(p, "window")
  private val tuple = p \ "five_tuple"

  private def pcap(s: SparkSession, opts: (String, String)*): DataFrame =
    s.read.format("pcap").options(opts.toMap).load(cap)

  def steps: Seq[Step] = Seq(
    Step("dns_qtypes", "decode", s => collected(
      pcap(s, "decoder" -> "dns").filter(col("dns_qname").isNotNull)
        .groupBy("dns_qtype", "dns_qr")
        .agg(count(lit(1)).as("n"),
          sum(length(col("dns_qname"))).as("qname_chars")), capBytes)),
    Step("port_histogram", "decode", s => collected(
      pcap(s).filter(col("dst_port") < 1024).groupBy("dst_port")
        .agg(count(lit(1)).as("n"), sum("len").as("bytes")),
      capBytes)),
    Step("protocol_mix", "decode", s => collected(
      pcap(s).groupBy("protocol")
        .agg(count(lit(1)).as("n"), sum("len").as("bytes")),
      capBytes)),
    Step("time_window", "pruned_scan", s => collected(
      pcap(s).filter(col("ts") >= w0 && col("ts") < w1)
        .agg(count(lit(1)).as("n"), sum("len").as("bytes"),
          min("ts_micro").as("first"), max("ts_micro").as("last")))),
    Step("five_tuple", "pruned_scan", s => collected(
      pcap(s).filter(col("protocol") === "TCP" &&
          col("src") === str(tuple, "src") &&
          col("dst") === str(tuple, "dst") &&
          col("src_port") === num(tuple, "sport") &&
          col("dst_port") === num(tuple, "dport"))
        .agg(count(lit(1)).as("n"), sum("len").as("bytes")))),
    Step("count_all", "pruned_scan", s => collected(
      pcap(s).groupBy().count())),
    Step("tcp_flows", "flow", s => collected(
      pcap(s).filter(col("protocol") === "TCP" && col("len") > 0)
        .groupBy("src", "src_port", "dst", "dst_port")
        .agg(graft.functions.Reassemble.stream().as("r"),
          count(lit(1)).as("segs"))
        .select(col("src"), col("src_port"), col("dst"), col("dst_port"),
          col("segs"), length(col("r.stream")).as("stream_bytes"),
          md5(col("r.stream")).as("stream_md5"),
          col("r.truncated").as("truncated")), capBytes)))

  def reset(): Unit = Sidecars.delete(cap)
  override def buildArtifacts(spark: SparkSession): Unit =
    Sidecars.build(cap)
}

/** `.tsidx` sidecars for a capture directory (the time-range index the
  * pcap scan prunes files with and answers `count(*)` from), made the way
  * graft's own ETL step makes them: `PcapStatsWriter` header-walks
  * classic pcap and fully decodes pcapng. */
object Sidecars {
  import graft.sources.pcap.PcapTsIndex
  def delete(dir: String): Unit = {
    val s = Files.list(Paths.get(dir))
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(PcapTsIndex.SidecarSuffix))
      .foreach(f => Files.delete(f))
    finally s.close()
  }
  def build(dir: String): Unit = {
    val t0 = System.nanoTime()
    graft.tools.PcapStatsWriter.main(Array(dir))
    System.err.println(
      f"[harness] sidecars ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }
}

/** The LLM-data queries over parquet tables: each step is a registered
  * `SparkEntry` query whose rows are hashed inside Spark. */
final class CorpusPipeline(p: JValue, work: Path) extends Workload {
  private val dir = str(p, "corpus")
  private val checkDir = work.resolve("check")
  private val queries: Seq[(String, String)] = (p \ "queries") match {
    case JArray(xs) => xs.map { x => (str(x, "name"), str(x, "family")) }
    case _ => sys.error("corpus_pipeline needs queries")
  }
  private var wroteCheck = Set.empty[String]
  def steps: Seq[Step] = queries.map { case (q, fam) =>
    Step(q, fam, s => {
      val df = graft.SparkEntry.queries(q)(s, dir)
      if (!wroteCheck(q)) {
        // warm-up pass: write the rows for the DuckDB oracle and take
        // the reference digest from what was written
        val out = checkDir.resolve(q).toString
        df.coalesce(1).write.mode("overwrite").parquet(out)
        wroteCheck += q
        hashed(s.read.parquet(out))
      } else hashed(df)
    })
  }

  /** The index and graph builds take seconds; three passes more per run
    * would not fit the run budget. */
  override def passInSetup: Boolean = false

  override def oracleSql: Map[String, String] = {
    val all = graft.SparkEntry.oracleSql
    queries.map(_._1).filter(all.contains).map(q => q -> all(q)).toMap
  }

  /** Trains and persists the IVF-PQ index and builds and persists the
    * co-purchase graph edge artifact, as a first query call would. */
  override def buildArtifacts(spark: SparkSession): Unit = {
    val emb = graft.Tables.embeddings(spark, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val t0 = System.nanoTime()
    graft.operators.Similarity.ivfpqIndex(spark, dir, emb)._3.count()
    val t1 = System.nanoTime()
    graft.operators.Graph.coPurchaseEdges(spark, dir).count()
    System.err.println(f"[harness] ivfpq index ${(t1 - t0) / 1e9}%.3f s, " +
      f"graph edges ${(System.nanoTime() - t1) / 1e9}%.3f s")
  }

  /** The IVF-PQ index and the graph edge artifact live under
    * `artifacts/` (see [[Harness.session]]); removing it makes the next
    * setup round rebuild them. */
  def reset(): Unit = deleteTree(work.resolve("artifacts"))
}

/** Sinks beside scans: a capture subset carved through the pcap sink
  * (classic and pcapng) and read back with a time filter; documents
  * exported through the warc and wds sinks and scanned back (JPEG
  * decode on the wds images); a zip archive scan. */
final class ArchiveRoundtrip(p: JValue, work: Path) extends Workload {
  private val cap = str(p, "captures")
  private val docs = str(p, "documents")
  private val zipDir = str(p, "zip")
  private val out = work.resolve("sinks")
  private val Seq(c0, c1) = nums(p, "carve")
  private val Seq(w0, w1) = nums(p, "window")

  private def carve(s: SparkSession, container: String): Out = {
    val dst = out.resolve(container)
    deleteTree(dst)
    val t = s.read.format("pcap").load(cap)
      .filter(col("ts") >= c0 && col("ts") < c1 && col("protocol") === "UDP")
      .select("ts_micro", "frame")
      .write.format("pcap")
    (if (container == "pcapng") t.option("container", "pcapng") else t)
      .mode("append").save(dst.toString)
    written(dst)
  }

  /** A write step's digest is its data-file count: file names carry job
    * and task ids, so sizes of indexes that name them vary by a few
    * bytes; the written rows are checked by the read-back steps. */
  private def written(dst: Path): Out = {
    val s = Files.list(dst)
    val n = try s.toArray.count { f =>
      val name = f.asInstanceOf[Path].getFileName.toString
      !name.startsWith(".") && !name.startsWith("_") && !name.endsWith("idx")
    } finally s.close()
    Out(s"${dst.getFileName}:$n files", bytesOut = treeBytes(dst))
  }

  private def readBack(s: SparkSession, container: String): Out = {
    val src = out.resolve(container)
    val df = s.read.format("pcap").load(src.toString)
      .filter(col("ts") >= w0 && col("ts") < w1)
      .select(md5(col("frame")).as("m"))
      .agg(count(lit(1)).as("n"), sort_array(collect_list("m")).as("md5s"))
    val r = df.head()
    val n = r.getLong(0)
    val digest = md5Hex(r.getSeq[String](1).mkString(","))
    Out(s"$n:$digest", JArray(List(JLong(n), JString(digest))),
      bytesIn = treeBytes(src))
  }

  def steps: Seq[Step] = Seq(
    Step("pcap_write", "write", s => carve(s, "pcap")),
    Step("pcapng_write", "write", s => carve(s, "pcapng")),
    Step("warc_write", "write", s => {
      val dst = out.resolve("warc")
      deleteTree(dst)
      s.read.parquet(docs)
        .select(concat(lit("http://docs.example/d"), col("doc_id"))
          .as("url"), encode(col("text"), "UTF-8").as("payload"),
          lit(200).as("http_status"))
        .repartition(4)
        .write.format("warc").mode("append").save(dst.toString)
      written(dst)
    }),
    Step("wds_write", "write", s => {
      import s.implicits._
      val dst = out.resolve("wds")
      deleteTree(dst)
      s.read.parquet(docs).select($"doc_id", $"text").repartition(4)
        .as[(Long, String)]
        .map { case (id, text) =>
          (id.toString, graft.operators.JpegCodec.encode(id),
            text.getBytes("UTF-8"))
        }.toDF("key", "jpg", "txt")
        .write.format("wds").mode("append").save(dst.toString)
      written(dst)
    }),
    Step("pcap_read_back", "archive_scan", s => readBack(s, "pcap")),
    Step("pcapng_read_back", "archive_scan", s => readBack(s, "pcapng")),
    Step("warc_scan", "archive_scan", s => {
      val src = out.resolve("warc")
      collected(s.read.format("warc").load(src.toString)
        .filter(col("rec_type") === "response")
        .select(col("url"), col("http_status"), md5(col("payload")).as("m")),
        treeBytes(src))
    }),
    Step("wds_scan_decode", "archive_scan", s => {
      import s.implicits._
      val src = out.resolve("wds")
      val back = s.read.format("wds").load(src.toString)
      collected(back.repartition(s.sparkContext.defaultParallelism,
          $"key").groupBy($"key")
        .agg(max(when($"ext" === "jpg", $"data")).as("jpg"),
          max(when($"ext" === "txt", $"data")).as("txt"))
        .as[(String, Array[Byte], Array[Byte])]
        .map { case (key, jpg, txt) =>
          val img = graft.operators.JpegCodec.decode(jpg)
          var px = 0L
          img.px.foreach(b => px += (b & 0xFF))
          (key, img.w, img.h, px,
            java.security.MessageDigest.getInstance("MD5").digest(jpg)
              .map(b => f"${b & 0xFF}%02x").mkString,
            java.security.MessageDigest.getInstance("MD5").digest(txt)
              .map(b => f"${b & 0xFF}%02x").mkString)
        }.toDF("key", "w", "h", "px_sum", "jpg_md5", "txt_md5"),
        treeBytes(src))
    }),
    Step("zip_scan", "archive_scan", s => collected(
      s.read.format("zip").load(zipDir)
        .select(element_at(split(col("archive"), "/"), -1).as("archive"),
          col("entry"), col("size"), col("crc32"),
          md5(col("data")).as("m")), treeBytes(Paths.get(zipDir)))))

  def reset(): Unit = { deleteTree(out); Sidecars.delete(cap) }
  override def buildArtifacts(spark: SparkSession): Unit =
    Sidecars.build(cap)
}
