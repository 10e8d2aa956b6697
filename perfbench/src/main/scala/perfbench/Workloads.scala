package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.functions.TextAnalysis
import graft.operators.{Curation, Dedup}
import graft.benchshim.Harness
import graft.sources.Snapshot

import Main.{Ctx, Workload}

/** `curate`: the LLM-data pipeline on a seeded corpus (at this size its
  * time is mostly per-job overhead; the text kernels are most of the task
  * CPU). One step = `Curation.curate` (quality-aware near-dup survivors, NFC,
  * repetition gates) + `Dedup.minhashComponents` over the raw corpus as
  * the cluster report + one `Snapshot.publish` of the survivors.
  */
final class CurateWorkload(c: Ctx) extends Workload {
  import c.spark
  var cycle = 0
  private lazy val corpus = spark.read.parquet(c.input("corpus"))
    .select("doc_id", "text")
  private val table = c.work("curated")
  private val report = c.out("clusters")

  def curated(docs: DataFrame): DataFrame = Curation.curate(docs,
    minQuality = 0.25, maxDupLines = 0.3, maxTopNgram = 0.3,
    normalizeUnicode = true, keepBestQuality = true)

  private def pipeline(): Unit = {
    var survivors = 0L
    c.span("bench.pipeline", Map("cycle" -> cycle, "survivors" -> survivors)) {
      val surv = c.span("operators.curate", Map("survivors" -> survivors)) {
        val s = curated(corpus).persist()
        survivors = s.count()
        s
      }
      try {
        c.span("sources.publish")(Snapshot.publish(spark, table, surv, "lang", "doc_id"))
        c.span("operators.components") {
          Dedup.minhashComponents(corpus).write.mode("overwrite").parquet(report)
        }
      } finally c.span("ops.release") {
        surv.unpersist(blocking = true)
        Harness.releaseCaches()
      }
    }
  }

  /** No warm-up pipeline: the timed pipeline is the first one in a fresh
    * JVM, what a batch job that curates one corpus pays. A warm-up would
    * cost as much as the pipeline itself (its time is mostly per-job and
    * codegen overhead at any affordable corpus size). */
  def setup(): Unit = corpus.schema

  def step(): Int = {
    pipeline()
    cycle += 1
    1
  }

  def finish(): Map[String, Any] = {
    Snapshot.read(spark, table).write.mode("overwrite").parquet(c.out("survivors"))
    Map("docs" -> corpus.count())
  }

  /** The feature Columns curate evaluates, projected alone over the same
    * corpus (graft.functions), and the band self-join alone with its SQL
    * metrics (graft.operators). */
  override def probes(): Unit = {
    val text = TextAnalysis.normalizeNfc(col("text"))
    graft.ops.Custom.register(spark)
    val feats = corpus.select(col("doc_id"), text.as("text"))
      .select(col("doc_id"), TextAnalysis.languageId(col("text")),
        TextAnalysis.qualityScore(col("text")),
        TextAnalysis.tokenCount(col("text")),
        TextAnalysis.duplicateLineFraction(col("text")),
        TextAnalysis.topNgramFraction(col("text"), 2))
    var rows = 0L
    for (_ <- 0 until 2)
      c.span("functions.features", Map("rows" -> rows)) {
        rows = feats.queryExecution.toRdd.count()
      }
    var emitted = 0L
    var candidates = 0L
    c.span("operators.pairs", Map("emitted" -> emitted, "candidates" -> candidates)) {
      val pairs = Dedup.minhashSelfPairs(corpus.filter(col("text").isNotNull), 4)
      emitted = pairs.queryExecution.toRdd.count()
      candidates = CurateWorkload.bandCandidates(pairs.queryExecution.executedPlan)
      Harness.releaseCaches()
    }
  }
}

object CurateWorkload {
  /** Output rows of the (seed, mh) band equi-join, read from the SQL
    * metrics of the executed plan (adaptive and cached subplans included). */
  def bandCandidates(plan: SparkPlan): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(plan).collect {
      case j: BaseJoinExec if j.leftKeys.map(_.references.map(_.name).mkString)
          .toSet == Set("seed", "mh") => j.metrics.get("numOutputRows").map(_.value)
    }.flatten.sum
  }
}

/** `query_mix`: analytic and CT-analog `graft.ops` keys, where fixed
  * per-query cost dominates. Each key execution is: build, plan
  * (`executedPlan`), execute (`toRdd.count`, what Bench times) and
  * release caches.
  */
final class QueryMixWorkload(c: Ctx) extends Workload {
  import c.spark
  val keys: Seq[String] = QueryMixWorkload.select(
    graft.SparkEntry.queries.keySet, graft.SparkEntry.oracleSql)
  private val rng = new scala.util.Random(c.args.seed)
  var cycle = 0

  private def run(key: String): Long = {
    var rows = -1L
    c.span("bench.query", Map("key" -> key, "cycle" -> cycle, "rows" -> rows)) {
      try {
        val df = c.span("ops.build")(graft.SparkEntry.queries(key)(spark, c.args.inputs))
        c.span("ops.plan")(df.queryExecution.executedPlan)
        rows = c.span("ops.exec")(df.queryExecution.toRdd.count())
      } finally c.span("ops.release")(Harness.releaseCaches())
    }
    rows
  }

  /** Warm-up: every key once, untimed, writing its result the way
    * `graft.Verify` does; these files are what the oracle check reads,
    * and every timed execution must return the same row count. Then one
    * untimed cycle of the timed path, whose first pass is still slower
    * (JIT and codegen caches). */
  def setup(): Unit = {
    val oracle = keys.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap
    java.nio.file.Files.write(java.nio.file.Paths.get(c.out("oracle_sql.json")),
      Json.value(oracle).getBytes("UTF-8"))
    for (k <- keys) {
      try Harness.checkpointed(graft.SparkEntry.queries(k)(spark, c.args.inputs))
        .coalesce(1).write.mode("overwrite").parquet(c.out(s"query/$k"))
      finally Harness.releaseCaches()
    }
    keys.foreach(run)
  }

  /** One cycle: every key once, in a seeded order, so each run times the
    * same mix of keys. */
  def step(): Int = {
    rng.shuffle(keys).foreach(run)
    cycle += 1
    keys.size
  }

  def finish(): Map[String, Any] = Map("keys" -> keys)
}

object QueryMixWorkload {
  /** The analytic and CT-analog families. */
  val Families = Seq("a_", "j_", "w_", "s_", "f_", "o_", "u_", "p_", "x_flex_")
  /** Table-format, streaming and text keys belong to the other workloads. */
  private val Owned = "snapshot|stream|ivm|bucket".r
  private val TextTables = "\\b(documents|embeddings)\\b".r

  /** The first key, in name order, of each family among the keys with
    * oracle SQL that the other workloads do not own. */
  def select(all: collection.Set[String], oracle: Map[String, String]): Seq[String] =
    Families.flatMap { f =>
      all.toSeq.filter(k => k.startsWith(f) && !(f.length < 6 && k.startsWith("x_")))
        .filter(k => oracle.contains(k) && Owned.findFirstIn(k).isEmpty &&
          TextTables.findFirstIn(oracle(k)).isEmpty)
        .sorted.headOption
    }
}

/** `table_cdc`: writes alongside reads on the snapshot table format. A
  * seeded change stream drives a table published from `lineitem` in
  * rounds: append, upsert, merge, merge-on-read deletes, their
  * materialisation, then compaction and vacuum. After every commit a
  * reader times `Snapshot.read`; after the round's last commit (the
  * compaction) the CDF stream drains into a sink under an availableNow
  * trigger and a reader times `Snapshot.readChanges` over the round's
  * versions. One step is one whole round, so every run times the same
  * mix of verbs.
  */
final class TableCdcWorkload(c: Ctx) extends Workload {
  import c.spark
  private val table = c.work("cdc_table")
  private val sink = c.work("cdc_sink")
  private val schedule: IndexedSeq[Map[String, Any]] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(c.input("cdc_schedule.json"))), "UTF-8")
    TableCdcWorkload.parseSchedule(txt)
  }
  private lazy val batches: Map[Long, Array[Row]] = spark.read
    .parquet(c.input("cdc_changes.parquet")).collect()
    .groupBy(_.getAs[Int]("batch").toLong)
  private lazy val tableSchema = spark.read.parquet(c.input("cdc_base.parquet")).schema
  private var pos = 0
  private var version = 0
  private var roundStart = 0
  var cycle = 0
  private val seen = mutable.HashMap.empty[String, (Long, Long)]
  private val written = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private var userRows = 0L
  private var userBytes = 0L
  private var dvLive = 0L

  private val clauses = Seq(
    Snapshot.WhenMatchedDelete(Some("s.l_linestatus = 'D'")),
    Snapshot.WhenMatchedUpdate(None, Seq("l_quantity" -> "s.l_quantity",
      "l_extendedprice" -> "s.l_extendedprice", "l_discount" -> "s.l_discount",
      "l_linestatus" -> "s.l_linestatus")),
    Snapshot.WhenNotMatchedInsert(Some("s.l_linestatus <> 'D'")))

  private def rows(step: Long): DataFrame = {
    val rs = batches(step).toSeq.map(r => Row.fromSeq(r.toSeq.dropRight(1)))
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), tableSchema)
  }

  /** One availableNow run of the CDF stream into the sink; returns the
    * per-trigger phase times. */
  private def drain(): Seq[Map[String, Any]] = {
    val q = spark.readStream.format("graft-snapshot-stream")
      .option("path", table).option("readChanges", "true")
      .option("maxVersionsPerBatch", TableCdcWorkload.VersionsPerBatch.toString).load()
      .writeStream.format("graft-snapshot-sink")
      .option("path", sink).option("partition", "_change_type")
      .option("checksum", "row_id")
      .option("checkpointLocation", c.work("cdc_checkpoint"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    StreamPhases.of(q.recentProgress.toSeq)
  }

  /** Bytes of the files under the table directory that are new or changed
    * since the last listing, by kind (data / dv / meta). */
  private def list(): Unit = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(table))
    dvLive = files.count(f => f.getPath.contains("/_dv/") && f.getName.endsWith(".parquet"))
    for (f <- files) {
      val key = f.getPath
      val st = (f.length, f.lastModified)
      if (!seen.get(key).contains(st)) {
        seen(key) = st
        val kind =
          if (key.contains("/_dv/")) "dv"
          else if (key.endsWith(".parquet") && key.contains("/_p=")) "data"
          else "meta"
        written(kind + "_bytes") += f.length
        written(kind + "_files") += 1
      }
    }
  }

  private def read(): Unit =
    c.span("sources.read", Map("files" -> Snapshot.dataFileCount(spark, table),
        "dv_sidecars" -> dvLive)) {
      val df = c.span("sources.read_plan") {
        val d = Snapshot.read(spark, table)
        d.queryExecution.executedPlan
        d
      }
      c.span("sources.read_exec")(df.queryExecution.toRdd.count())
    }

  private def apply(i: Int): Unit = {
    val st = schedule(i)
    val verb = st("verb").toString
    val batch = st("step").asInstanceOf[Long]
    val nRows = st("rows").asInstanceOf[Long]
    c.span("bench.step", Map("verb" -> verb, "step" -> i, "rows" -> nRows)) {
      val before = version
      version = c.span(s"sources.$verb") {
        verb match {
          case "append" => Snapshot.append(spark, table, rows(batch), "part", "row_id")
          case "upsert" => Snapshot.upsert(spark, table, rows(batch), "row_id", "part", "row_id")
          case "merge" =>
            Snapshot.merge(spark, table, rows(batch), "row_id", "part", "row_id", clauses)
          case "delete_mor" =>
            Snapshot.deleteMorKeys(spark, table,
              batches(batch).toSeq.map(_.getAs[Long]("row_id")), "row_id")
          case "apply_dv" => Snapshot.applyMorDeletes(spark, table, "part", "row_id")
          case "compact" =>
            Snapshot.compactPartitions(spark, table, "part", "row_id", maxFiles = 1)
          case "vacuum" =>
            Snapshot.vacuum(spark, table, TableCdcWorkload.RetainVersions)
            version
        }
      }
      c.span("ops.release")(Harness.releaseCaches())
      c.span("bench.list")(list())
      if (version != before) read()
      // after the round's last commit
      if (verb == "compact") {
        var phases: Seq[Map[String, Any]] = Nil
        c.span("streaming.drain", Map("batches" -> phases)) { phases = drain() }
        c.span("sources.read_changes")(Snapshot.readChanges(spark, table, roundStart,
          version).queryExecution.toRdd.count())
      }
    }
    if (nRows > 0) {
      userRows += nRows
      userBytes += nRows * TableCdcWorkload.RowBytes
    }
  }

  /** Publish the base table and land it in the sink (the initial CDF
    * load), then apply one untimed warm-up round: the first round runs
    * about 1.5x slower than the next (JIT and codegen caches). The
    * output checks replay every applied step, warm-up included. */
  def setup(): Unit = {
    val base = spark.read.parquet(c.input("cdc_base.parquet"))
    version = Snapshot.publish(spark, table, base, "part", "row_id")
    drain()
    list()
    step()
    cycle = 0
    userRows = 0L
    userBytes = 0L
    written.clear()
  }

  def step(): Int = {
    val round = schedule(pos)("round")
    roundStart = version
    var n = 0
    while (pos < schedule.size && schedule(pos)("round") == round) {
      n += 1
      apply(pos)
      pos += 1
    }
    cycle += 1
    n
  }

  def finish(): Map[String, Any] = {
    Snapshot.read(spark, table).write.mode("overwrite").parquet(c.out("table_final"))
    Snapshot.read(spark, sink).write.mode("overwrite").parquet(c.out("sink"))
    Map("applied_steps" -> pos, "user_rows" -> userRows, "user_bytes" -> userBytes,
      "final_version" -> version) ++ written
  }
}

object TableCdcWorkload {
  /** Stream admission: a drain takes every version of a round in one batch. */
  val VersionsPerBatch = 64
  /** Time-travel retention of the vacuum: about three rounds. A restarted
    * stream re-plans its last batch, so the versions of the previous
    * drain must survive; with `keepVersions = 1` the second drain after a
    * vacuum fails ("no manifest for v1"). */
  val RetainVersions = 24

  /** Bytes of one user row as the change batch carries it: 5 longs,
    * 4 doubles, 1 int, 1 timestamp, and three 1-byte plus one 3-byte
    * strings — a fixed size, so the write amplification is deterministic. */
  val RowBytes: Long = 5 * 8 + 4 * 8 + 4 + 8 + 3 + 3

  def parseSchedule(txt: String): IndexedSeq[Map[String, Any]] =
    "\\{[^}]*\\}".r.findAllIn(txt).map { o =>
      "\"(\\w+)\":\\s*(\"[^\"]*\"|-?\\d+)".r.findAllMatchIn(o).map { m =>
        val v = m.group(2)
        m.group(1) -> (if (v.startsWith("\"")) v.drop(1).dropRight(1) else v.toLong)
      }.toMap
    }.toIndexedSeq
}
