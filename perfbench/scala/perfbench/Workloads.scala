package perfbench

import java.security.MessageDigest

import graft.core.DataCube
import graft.pipeline.{Dedup, LinkGraph, Similarity}
import graft.plans.ProcessGraph
import graft.sources.Tables
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

/** One generated request: its kind, the key its expectation is filed
  * under, and the kind's arguments.
  */
final case class Req(kind: String, key: String, args: JValue) {
  def str(k: String): String = (args \ k) match {
    case JString(s) => s
    case other => sys.error(s"request $key: '$k' is not a string: $other")
  }
  def int(k: String): Int = (args \ k) match {
    case JInt(v) => v.toInt
    case JLong(v) => v.toInt
    case other => sys.error(s"request $key: '$k' is not an int: $other")
  }
}

/** What a request returned: the rows the client received, and whatever
  * the digest needs beyond them.
  */
final case class Answer(rows: Array[Row], extra: Map[String, Long] = Map.empty)

/** The request kinds of one family, served against one data directory. */
trait Requests {
  def kinds: Set[String]
  /** Fixtures built once per session, before the warm-up pass. */
  def prepare(): Unit = ()
  /** One request, end to end: the client waits for the collected rows. */
  def run(req: Req, reqId: Long): Answer
  /** The digest the checker compares, computed outside the timed region. */
  def digest(req: Req, a: Answer): JValue
}

/** A workload serves the request kinds of one or more families. */
final class Workload(families: Seq[Requests]) {
  private def of(r: Req): Requests = families.find(_.kinds(r.kind))
    .getOrElse(sys.error(s"no request family serves kind '${r.kind}'"))
  def prepare(): Unit = families.foreach(_.prepare())
  def run(req: Req, reqId: Long): Answer = of(req).run(req, reqId)
  def digest(req: Req, a: Answer): JValue = of(req).digest(req, a)
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String): Workload =
    new Workload(name match {
      case "graph_serial" => Seq(new GraphRequests(spark, data))
      case "graph_concurrent" => Seq(new GraphRequests(spark, data),
        new CorpusRequests(spark, data), new StreamRequests(spark, data))
      case other => sys.error(s"unknown workload '$other'")
    })

  def sha(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The client's action: collect `df`, claiming its execution. */
  def collect(df: DataFrame): Array[Row] = Trace.span("client.collect") {
    val rows = df.collect()
    Trace.claim(df.queryExecution)
    rows
  }

  /** A double as JSON; NaN and infinities become null. */
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  /** Rows as JSON arrays of their fields (numbers and strings only). */
  def rowsJson(rows: Array[Row]): JValue = JArray(rows.toList.map { r =>
    JArray(r.toSeq.toList.map {
      case null => JNull
      case s: String => JString(s)
      case d: Double => num(d)
      case n: java.lang.Long => JLong(n)
      case n: java.lang.Integer => JLong(n.longValue)
      case o => JString(o.toString)
    })
  })
}

/** openEO process graphs over the generated Sentinel-2-like cube. Each
  * `load_collection` reads its table through `Tables.read` and wraps it
  * with `DataCube.fromTable`, as a backend's catalog does per request.
  */
final class GraphRequests(spark: SparkSession, data: String) extends Requests {
  val kinds = Set("evi", "ndvi", "monthly", "scale", "mask", "gapfill",
    "quantile", "temporal_mean")

  private def load(id: String): DataCube = {
    val df = Trace.span("sources.read")(Tables.read(spark, data, id))
    // x before y: filter_bbox binds west/east to the first spatial dim
    val dims = if (id == "s2_gaps") Seq("x", "y", "t") else Seq("x", "y", "t", "bands")
    Trace.span("core.fromTable")(DataCube.fromTable(df, dims, "value"))
  }

  def run(req: Req, reqId: Long): Answer = {
    val cube = Trace.span("plans.execute") {
      ProcessGraph.execute(spark, req.str("graph"), load)
    }
    Answer(Workload.collect(cube.df.select(cube.value)))
  }

  def digest(req: Req, a: Answer): JValue = {
    val vs = a.rows.filterNot(_.isNullAt(0)).map(_.getDouble(0))
    JObject("n" -> JLong(vs.length), "sum" -> Workload.num(vs.sum),
      "sumsq" -> Workload.num(vs.map(v => v * v).sum),
      "min" -> Workload.num(if (vs.isEmpty) 0.0 else vs.min),
      "max" -> Workload.num(if (vs.isEmpty) 0.0 else vs.max))
  }
}

/** The near-dup / ANN / link-graph corpus mix: shard probes against a
  * standing MinHash index, batch near-dup passes, IVF top-k, PageRank,
  * and index rewrites.
  */
final class CorpusRequests(spark: SparkSession, data: String) extends Requests {
  val kinds = Set("probe", "near_dups", "ivf_topk", "pagerank", "index_write")
  /** The standing index and the extension shard it holds; each probe
    * reports the generation it probed.
    */
  @volatile private var index: (Dedup.MinhashIndex, Int) = _
  private lazy val corpus = Trace.span("sources.read")(Tables.embeddings(spark, data))
  private lazy val cents = Similarity.strideCentroids(corpus, "vec_id", "embedding", 16)

  private def read(name: String): DataFrame =
    Trace.span("sources.read")(Tables.read(spark, data, name))

  private def text = col("text")

  /** Rebuild the standing index over the base corpus plus one extension
    * shard, materialize it, and release the previous generation.
    */
  private def writeIndex(ext: Int): Map[String, Long] = {
    val docs = Trace.span("sources.read")(Tables.documents(spark, data))
      .unionByName(read(f"shard_$ext%03d"))
    val idx = Trace.span("pipeline.minhashIndex") {
      val i = Dedup.minhashIndex(docs.select("doc_id", "text"), "doc_id", text)
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val p = i.copy(bands = i.bands.persist(lvl),
        shingles = i.shingles.persist(lvl), counts = i.counts.persist(lvl))
      // one action per table materializes the new generation
      (p, Map("bands" -> p.bands.count(), "shingles" -> p.shingles.count(),
        "docs" -> p.counts.count()))
    }
    val old = index
    index = (idx._1, ext)
    if (old != null) {
      old._1.bands.unpersist(blocking = false)
      old._1.shingles.unpersist(blocking = false)
      old._1.counts.unpersist(blocking = false)
    }
    idx._2
  }

  /** The standing index is built per session; the IVF quantizer is
    * trained on first use.
    */
  override def prepare(): Unit = writeIndex(0)

  def run(req: Req, reqId: Long): Answer = req.kind match {
    case "probe" =>
      val shard = read(f"shard_${req.int("shard")}%03d")
      val (ix, ext) = index
      val out = Trace.span("pipeline.incrementalNearNew") {
        Dedup.incrementalNearNew(shard.select("doc_id", "text"), ix, text)
      }
      Answer(Workload.collect(out), Map("ext" -> ext.toLong))
    case "near_dups" =>
      val docs = Trace.span("sources.read")(Tables.documents(spark, data))
        .filter(col("grp") === req.int("grp"))
      val out = Trace.span("pipeline.minhashNearDups") {
        Dedup.minhashNearDups(docs, "doc_id", text)
          .select("id_a", "id_b", "jaccard")
      }
      Answer(Workload.collect(out))
    case "ivf_topk" =>
      val q = read("queries").filter(col("grp") === req.int("grp"))
      val out = Trace.span("pipeline.ivfTopK") {
        Similarity.ivfTopK(q, corpus, "vec_id", "embedding", cents, k = 5)
      }
      Answer(Workload.collect(out))
    case "pagerank" =>
      val edges = read("edges").filter(col("grp") === req.int("grp"))
      val out = Trace.span("pipeline.pageRankRun") {
        LinkGraph.pageRankRun(edges, iters = req.int("iters"))._1
      }
      Answer(Workload.collect(out))
    case "index_write" =>
      Answer(Array.empty, writeIndex(req.int("shard")))
    case other => sys.error(s"corpus: unknown request kind '$other'")
  }

  def digest(req: Req, a: Answer): JValue = req.kind match {
    case "pagerank" =>
      JObject("n" -> JLong(a.rows.length), "sha" -> JString(Workload.sha(
        a.rows.map(r => s"${r.getLong(0)},${r.getLong(1)}"))))
    case _ => JObject(("rows" -> Workload.rowsJson(a.rows)) ::
      a.extra.toList.sortBy(_._1).map { case (k, v) => k -> JLong(v) })
  }
}

/** The multi-batch sessionization stream runner over generated events files. */
final class StreamRequests(spark: SparkSession, data: String) extends Requests {
  val kinds = Set("sessionize")

  def run(req: Req, reqId: Long): Answer = {
    val path = s"$data/${req.str("file")}.parquet"
    val shards = req.int("shards")
    // the query name carries the request id to the streaming listener
    val qn = s"pb${reqId}_${req.kind}"
    val out = Trace.span("streaming.sessionize") {
      StreamingOps.sessionizeEventsFileMultiBatch(
        spark, path, shards = shards, minBatches = shards, queryName = qn)
    }
    try Answer(Workload.collect(out))
    finally spark.catalog.dropTempView(qn)
  }

  def digest(req: Req, a: Answer): JValue =
    JObject("n" -> JLong(a.rows.length), "sha" -> JString(Workload.sha(
      a.rows.map(_.toSeq.map(String.valueOf).mkString(",")))))
}
