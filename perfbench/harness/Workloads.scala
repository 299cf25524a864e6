package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

import graft.core.{Scratch, Tables}
import graft.operators.{Maintenance, RetrievalIndex, Snapshot}
import graft.pipeline.{ExecutiveDedupPipeline, IssuesPipeline}
import graft.sources.{FsKeyValueSink, KeyValueSink, ReviewExport}
import graft.streaming.RetrievalStream

/** One timed operation of a pass. `out` is a parquet result `run.py`
  * checks against DuckDB; `digest` must repeat on every pass; `checks` are
  * named pass/fail outcomes of the output check; `extra` holds counts
  * (bytes written and ingested, epochs, sink rows). */
final case class OpRec(pass: Int, name: String, kind: String, span: Int, t0: Double,
    dur: Double, ok: Boolean, err: String, out: String, digest: String,
    checks: Seq[(String, Boolean)], extra: Map[String, Any])

final case class Post(out: String = null, digest: String = null,
    checks: Seq[(String, Boolean)] = Nil, extra: Map[String, Any] = Map.empty)

/** Shared state of one benchmark process: the session, the generated
  * input directory, the work directory and the trace. */
final class Ctx(val spark: SparkSession, val dir: String, val work: String, var trace: Trace) {
  var pass = 0
  var storage = false // storage accounting around each op (traced index_lifecycle)
  val ops = mutable.ArrayBuffer.empty[OpRec]
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries
  lazy val oracle: Map[String, String] = graft.SparkEntry.oracleSql

  def storageRoots: Seq[String] = Seq(s"$work/warehouse", Scratch.root)

  /** Run `body` as one operation inside a span named `layer`, time it,
    * then run the untimed output check `post` on its result. A throw in
    * either counts the operation as failed. */
  def op[A](name: String, kind: String, layer: String)(body: => A)(post: A => Post): Unit = {
    val before = if (storage) Storage.scan(storageRoots) else null
    val spanId = trace.spans.size
    val t0 = Clock.nowMs
    val res = try Right(trace.span(layer)(body)) catch { case e: Throwable => Left(e) }
    val dur = (Clock.nowMs - t0) / 1000.0
    val io: Map[String, Any] =
      if (!storage) Map.empty
      else {
        val (w, f) = Storage.written(before, Storage.scan(storageRoots))
        Map("written_b" -> w, "files_w" -> f)
      }
    val sid = if (trace.enabled) spanId else -1
    res match {
      case Left(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        ops += OpRec(pass, name, kind, sid, t0, dur, false, String.valueOf(e), null, null, Nil, io)
      case Right(v) =>
        try {
          val p = post(v)
          ops += OpRec(pass, name, kind, sid, t0, dur, true, null, p.out, p.digest, p.checks, io ++ p.extra)
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name output check failed: $e")
            ops += OpRec(pass, name, kind, sid, t0, dur, false, s"check: $e", null, null, Nil, io)
        }
    }
  }

  /** Oracle SQL of every output written for the DuckDB check, by op name. */
  val oracleUsed = mutable.Map.empty[String, String]

  /** The output check of collected rows: digested on every pass and, on
    * the cold pass when there is oracle SQL, also written to parquet
    * (untimed) for the DuckDB comparison. A warm pass is checked by its
    * digest, which must equal the cold pass's. */
  def rowsPost(name: String, schema: StructType, rows: Array[Row], sql: Option[String]): Post = {
    val out = s"$work/out/$name"
    val checked = pass == 0 && sql.isDefined
    if (checked) {
      oracleUsed(name) = sql.get
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(out)
    }
    Post(out = if (checked) out else null, digest = Ctx.digest(rows))
  }

  /** A named `SparkEntry.queries` query, defined and collected. */
  def query(name: String): Unit =
    op(name, "query", "queries") {
      val df = trace.span("queries.define")(queries(name)(spark, dir))
      (df.schema, trace.span("queries.exec")(df.collect()))
    } { case (schema, rows) => rowsPost(name, schema, rows, oracle.get(name)) }

  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
}

object Ctx {
  /** Order-free content digest with the row count: sha-256 of the sorted
    * rendered rows. */
  def digest(df: DataFrame): String = digest(df.collect())

  def digest(collected: Array[Row]): String = {
    val rows = collected.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16) + s":${rows.length}"
  }
}

trait Workload {
  /** Input tables beyond `graft.core.Tables`' fixture set. */
  def extraTables: Seq[String] = Nil
  def pass(c: Ctx): Unit
  /** Untimed work after each pass (dropping per-pass state). */
  def cleanup(c: Ctx): Unit = ()
}

object Workloads {
  /** The relational core of the reference's ER chain; q27 and q29-q31
    * (weighted pairs, consolidation, bands, link fan-out) run inside
    * `ExecutiveDedupPipeline` below. */
  val erQueries = Seq("q23_lookup_enrich", "q25_fuzzy_pairs", "q26_token_sort_match", "q28_dup_clusters",
    "q32_nest_orders", "q33b_token_sort_lev_pairs")

  def apply(name: String): Workload = name match {
    case "er_core"           => ErCore
    case "index_lifecycle"   => IndexLifecycle
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  object ErCore extends Workload {
    override def extraTables = Seq("issues", "tickers", "executives")

    def pass(c: Ctx): Unit = {
      erQueries.foreach(c.query)
      c.op("issues_pipeline", "pipeline", "pipeline") {
        val r = IssuesPipeline.run(c.table("issues"), c.table("tickers"))
        val sink = s"${c.work}/sink/issues"
        val rep = c.trace.span("sources")(KeyValueSink.write(
          r.nested.selectExpr("company_id", "to_json(entries) AS doc"), "company_id",
          () => new FsKeyValueSink(sink)))
        (r, rep)
      } { case (r, rep) =>
        Post(digest = Ctx.digest(r.nested),
          checks = Seq("sink_written" -> (rep.written > 0 && rep.written == rep.verifiedCount),
            "unmapped_seen" -> (r.unmappedTickers.count() > 0)),
          extra = Map("sink_rows" -> rep.written))
      }
      c.op("executive_pipeline", "pipeline", "pipeline") {
        val r = ExecutiveDedupPipeline.run(c.spark, c.table("executives"))
        val (review, persons) = (s"${c.work}/sink/review", s"${c.work}/sink/persons")
        c.trace.span("sources") {
          ReviewExport.write(r.reviewQueue, review, Seq("component"))
          KeyValueSink.write(r.persons.select(col("person_key"),
            to_json(struct(col("name"), col("address"), col("titles"), col("companies"),
              col("grouped_from"))).as("doc")), "person_key",
            () => new FsKeyValueSink(persons))
        }
        r
      } { r =>
        val persons = Ctx.digest(r.persons) // "<hash>:<rows>"
        Post(digest = persons + "/" + Ctx.digest(r.links),
          checks = Seq("persons_nonempty" -> !persons.endsWith(":0")))
      }
    }
  }

  /** A maintained index under writes: a tf retrieval index built and
    * extended through its streaming epoch fold (the extend crashes after
    * its postings append and is replayed), a serve after the batch, a full
    * and an incremental snapshot, a restore of the chain and its verify,
    * policy-driven compaction, and a final serve. Every serve and the
    * restored index are checked against DuckDB's one-shot answer over all
    * rows (`q159_index_topk`'s oracle). */
  object IndexLifecycle extends Workload {
    override def extraTables = Seq("batches")
    private val policy = Maintenance.CompactPolicy(maxBatches = 0L, maxDeadFraction = 0.2)
    private def docs(c: Ctx): DataFrame =
      Tables(c.spark, c.dir).documents.join(c.table("batches"), "doc_id")

    private def docs(c: Ctx, b: Int): DataFrame =
      docs(c).filter(col("batch") === b).select("doc_id", "text")

    /** Logical bytes of documents: each text plus an 8-byte id. */
    private def logicalBytes(d: DataFrame): Long =
      d.agg(coalesce(sum(length(col("text")).cast("long") + 8L), lit(0L))).head().getLong(0)

    private def topK(c: Ctx, t: String): DataFrame = graft.queries.GraftQuery.canonicalOrder(
      RetrievalIndex.topK(c.spark, t, graft.PerfbenchSeams.rankQueries))
    private def topKPost(c: Ctx, name: String, df: DataFrame): Post =
      c.rowsPost(name, df.schema, df.collect(), c.oracle.get("q159_index_topk"))

    private def deleteTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
      f.delete()
    }

    override def cleanup(c: Ctx): Unit = {
      val prefix = s"pb${c.pass}_"
      c.spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(prefix))
        .foreach(t => c.spark.sql(s"DROP TABLE IF EXISTS $t"))
      Option(new java.io.File(Scratch.root).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(prefix)).foreach(deleteTree)
    }

    def pass(c: Ctx): Unit = {
      val spark = c.spark
      val p = s"pb${c.pass}_"
      val (rix, restored) = (s"${p}rix", s"${p}rix_restored")
      val (snapFull, snapIncr) = (Scratch.path(s"${p}snap_full"), Scratch.path(s"${p}snap_incr"))
      // a crashed ingest and its replay report the same batch; the
      // reduction counts each batch's bytes once
      def ingested(b: Int, epochs: Int): Post =
        if (!c.storage) Post()
        else Post(extra = Map("epochs" -> epochs, "batch" -> b, "ingest_b" -> logicalBytes(docs(c, b))))

      c.op("fold_0", "ingest", "streaming")(RetrievalStream.foldEpoch(docs(c, 0), 0L, rix,
        Scratch.path(rix)))(_ => ingested(0, epochs = 1))
      c.op("export_full", "export", "operators")(Snapshot.export(spark, rix, snapFull,
        kind = Some("retrieval")))(_ => Post())
      // batch 1: the fold crashes after its postings append, then replays
      c.op("crash_1", "ingest", "operators")(graft.PerfbenchSeams.retrievalCrashBeforeCommit(
        docs(c, 1), rix, 2L))(_ => ingested(1, epochs = 0))
      c.op("fold_1", "ingest", "streaming")(RetrievalStream.foldEpoch(docs(c, 1), 1L, rix,
        Scratch.path(rix)))(_ => ingested(1, epochs = 1))
      c.op("serve_batch_1", "serve", "operators")(topK(c, rix).collect())(r =>
        c.rowsPost("serve_batch_1", topK(c, rix).schema, r, c.oracle.get("q159_index_topk")))
      c.op("export_incremental", "export", "operators")(Snapshot.export(spark, rix, snapIncr,
        incrementalFrom = Some(snapFull), kind = Some("retrieval")))(_ => Post())
      c.op("restore", "restore", "operators")(Snapshot.restore(spark, snapIncr, restored,
        Scratch.path(restored)))(_ => topKPost(c, "restore", topK(c, restored)))
      c.op("verify", "verify", "operators")(Snapshot.verify(spark, snapIncr).collect())(r =>
        Post(checks = Seq("snapshot_verify_clean" -> r.forall(_.getAs[Boolean]("ok")))))
      c.op("compact", "compact", "operators")(Maintenance.compactRetrievalIfDue(spark, rix,
        Scratch.path(rix), policy))(due => Post(checks = Seq("compact_due" -> due)))
      c.op("serve_final", "serve", "operators")(topK(c, rix).collect()) { r =>
        val fsck = Maintenance.fsck(spark, rix, "retrieval").collect().forall(_.getAs[Boolean]("ok"))
        // bytes the index stores, and the logical bytes of the documents
        // live in it (every batch; none is deleted)
        val live = if (c.storage) Map("live_b" -> Storage.bytes(Seq(Scratch.path(rix))),
          "live_logical_b" -> logicalBytes(docs(c))) else Map.empty[String, Any]
        c.rowsPost("serve_final", topK(c, rix).schema, r, c.oracle.get("q159_index_topk"))
          .copy(checks = Seq("fsck_clean" -> fsck), extra = live)
      }
    }
  }
}
