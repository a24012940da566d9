package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.operators.CalTopo
import graft.sources.{CalTopoFeatures, FeatureCollectionSink}

/** One workload: its op kinds, a warm-up that executes them (untimed for
  * the ops, part of set-up), and the timed op itself. Every op opens two
  * spans under its root span: `build` (constructing the DataFrame, which
  * includes any eager jobs the operators launch) and `exec` (the action
  * that delivers the result).
  */
trait Workload {
  /** Fields of timed op `i`'s record, `name` among them; read before it runs. */
  def describe(i: Int): Map[String, Any]
  /** Executes each op kind once; returns (op, error) for each that threw. */
  def warmUp(spark: SparkSession, tracer: Tracer): Seq[(String, String)]
  def run(spark: SparkSession, i: Int, tracer: Tracer): Unit
  /** Work between ops, outside op timing. */
  def betweenOps(): Unit = ()
  def counters: Map[String, Long] = Map.empty
  def close(): Unit = ()
}

/** A list of registry queries, one query per op, in a fixed round order.
  * The warm-up writes each query's result as parquet under `results/` and
  * the oracle SQL beside it, for the output check that follows the run.
  */
final class QueryWorkload(names: Seq[String], dir: Path, threads: Int) extends Workload {
  private val data = dir.resolve("tables").toString
  private val queries = names.map(n => n -> SparkEntry.queries(n)).toMap

  private def opName(i: Int): String = names(i % names.size)

  def describe(i: Int): Map[String, Any] = Map("name" -> opName(i))

  def warmUp(spark: SparkSession, tracer: Tracer): Seq[(String, String)] = {
    val oracles = SparkEntry.oracleSql
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json(names.map(n => n -> oracles.getOrElse(n, null)).toMap))
    // the first executions run `threads` at a time: most of their cost is
    // single-threaded driver work (class loading, code generation, JIT)
    val pool = Executors.newFixedThreadPool(threads)
    try names.map { n =>
      pool.submit(() =>
        try {
          queries(n)(spark, data).write.mode("overwrite")
            .parquet(dir.resolve("results").resolve(n).toString)
          None
        } catch { case e: Exception => Some(n -> Harness.errorHead(e)) })
    }.flatMap(_.get)
    finally pool.shutdown()
  }

  def run(spark: SparkSession, i: Int, tracer: Tracer): Unit = {
    val df = tracer.span("build")(queries(opName(i))(spark, data))
    tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
  }
}

/** The paper's sync: GET every map's GeoJSON from the loopback server
  * through `GeoJsonSource` (HTTP transport), decode, run the CalTopo
  * stages, and POST one FeatureCollection per partition through
  * `FeatureCollectionSink` under its commit protocol. Between syncs the
  * server applies the generated rewrite for the next sync; each sync reads
  * with the cursor the generator assigned to it (`since=-500` = full state).
  */
final class EtlSync(dir: Path, threads: Int) extends Workload {
  val server = new Loopback(dir.resolve("corpus.tsv"), threads)
  private val since: IndexedSeq[Long] =
    Files.readAllLines(dir.resolve("syncs.tsv"), UTF_8).asScala.toIndexedSeq
      .map(_.split("\t")(1).toLong)
  private val deltas: Map[Int, Seq[(Int, String, String)]] =
    Files.readAllLines(dir.resolve("deltas.tsv"), UTF_8).asScala.toSeq.map { l =>
      val Array(s, m, id, json) = l.split("\t", 4)
      (s.toInt, (m.toInt, id, json))
    }.groupMap(_._1)(_._2)
  private val posted = Files.newBufferedWriter(dir.resolve("posted.tsv"), UTF_8)
  private val paths = server.mapUrls.map("\"" + _ + "\"").mkString("[", ",", "]")
  private var sync = 0

  // The engine has no wire->feature entry point: GeoJsonSource yields raw
  // (id, properties_json, geometry) rows, so the decode into the
  // CalTopoFeatures.featureSchema columns lives here.
  private val propSchema = StructType(CalTopoFeatures.featureSchema.fields
    .filterNot(f => f.name == "id" || f.name == "geometry"))

  private def features(spark: SparkSession, cursor: Long): DataFrame =
    spark.read.format("graft.sources.GeoJsonSource")
      .option("paths", paths).option("since", cursor.toString).load()
      .select(col("id"), from_json(col("properties_json"), propSchema).as("p"),
        when(col("geom_type").isNotNull,
          struct(col("geom_type").as("type"), col("geom_coords").as("coordinates")))
          .as("geometry"))
      .select((col("id") +: propSchema.fieldNames.toSeq.map(f => col(s"p.$f"))) :+
        col("geometry"): _*)

  private def syncOnce(spark: SparkSession, tracer: Tracer): Unit = {
    val s = sync
    sync += 1
    val out = tracer.span("build") {
      val feats = features(spark, since(s))
      CalTopo.folderJoin(
        CalTopo.pointEnrich(CalTopo.coordTruncate(CalTopo.enrichProperties(
          CalTopo.projectNest(CalTopo.mainFlow(feats))))),
        CalTopo.folderDim(feats))
    }
    tracer.span("exec")(FeatureCollectionSink.write(out, s"${server.base}/sink/$s"))
  }

  private def kind(s: Int) = if (since(s) < 0) "full" else "incremental"

  def describe(i: Int): Map[String, Any] = Map("name" -> kind(sync), "sync" -> sync,
    "since" -> since(sync), "features" -> server.featureCount)

  def warmUp(spark: SparkSession, tracer: Tracer): Seq[(String, String)] =
    // the first syncs of both kinds (the corpus starts at a full pull, and
    // the generator makes every FULL_EVERY-th sync full)
    (0 until EtlSync.WarmSyncs).flatMap { _ =>
      val k = kind(sync)
      try { syncOnce(spark, tracer); None }
      catch { case e: Exception => Some(s"$k#${sync - 1}" -> Harness.errorHead(e)) }
      finally betweenOps()
    }

  def run(spark: SparkSession, i: Int, tracer: Tracer): Unit = syncOnce(spark, tracer)

  override def betweenOps(): Unit = {
    server.flushPosted(posted)
    deltas.get(sync).foreach(server.rewrite)
  }

  override def counters: Map[String, Long] = Map(
    "get_requests" -> server.getRequests.get, "get_bytes" -> server.getBytes.get,
    "served_features" -> server.servedFeatures.get,
    "posts" -> server.posts.get, "post_bytes" -> server.postBytes.get)

  override def close(): Unit = {
    server.flushPosted(posted)
    posted.close()
    server.stop()
  }
}

object EtlSync {
  /** Untimed syncs before the timed loop; `run.py` generates as many. */
  val WarmSyncs = 30
}
