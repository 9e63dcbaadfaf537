package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.io.DatasetConvention
import graft.prune.Pagination
import graft.schema.SchemaInference
import graft.streaming.DocsStream
import graft.tables.TableOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.Base64
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run of one workload in one JVM: a closed loop with a single
  * client calling the library's public functions. The work of a run is fixed
  * by its inputs (every ETL batch; [[CorpusPasses]] passes over the corpus
  * queries), so it does not depend on how fast the program is. Writes
  * `result.json` (op latencies, loop time, asset builds, peak RSS) and,
  * traced, `spans.jsonl` into the work directory; each op's output rows go
  * to `rows/op-NNNNN.jsonl` outside the timed region, for the checks that
  * follow the run.
  *
  *   graftbench.Main --workload W --inputs DIR --work DIR
  *                   --seed N --cores C --trace 0|1
  */
object Main {

  val PageSize = 100
  val MaxNextPages = 10

  val CorpusQueries: Seq[String] = Seq(
    "q_text_quality", "q_lang_id", "q_pii_scrub", "q_lm_perplexity", "q_dedup_minhash",
    "q_dedup_resolve", "q_semantic_dedup", "q_embed_neardup", "q_knn_join",
    "q_ann_ivf_trained", "q_pipeline_corpus")

  val PagedCorpusQuery = "q_pipeline_corpus"
  /** One pass builds the memoized assets, three reuse them: 44 query ops,
    * so the median falls among reusing ops, not between the two kinds. */
  val CorpusPasses = 4

  /** Warm-up inputs, generated beside the measured ones from another seed. */
  val WarmUpDir = "warmup"

  /** Query pack (layer `queries`) of each named query. */
  lazy val packOf: Map[String, String] = Seq(
    "textops" -> graft.queries.TextOps.queries, "dedup" -> graft.queries.Dedup.queries,
    "similarity" -> graft.queries.Similarity.queries, "pipeline" -> graft.queries.Pipeline.queries)
    .flatMap { case (p, m) => m.keys.map(_ -> p) }.toMap

  final class Op(val index: Int, val name: String, val kind: String) {
    var startNs = 0L
    var durNs = 0L
    var error: Option[String] = None
    val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
    var rows: Seq[Row] = Seq.empty
  }

  final case class Args(workload: String, inputs: String, work: String,
                        seed: Long, cores: Int, trace: Boolean)

  def parse(a: Array[String]): Args = {
    val kv = a.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("inputs"), kv("work"),
      kv.getOrElse("seed", "0").toLong, kv.getOrElse("cores", "4").toInt,
      kv.getOrElse("trace", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"graftbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(args.trace, spark.sparkContext)
    val run = new BenchRun(spark, tracer, args)
    val body = args.workload match {
      case "etl_ingest" => run.etlIngest()
      case "corpus_curate" => run.corpusCurate()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val firstOpEpoch = tracer.nowNs / 1e9
    body()
    tracer.drain()
    tracer.write(s"${args.work}/spans.jsonl")
    run.writeResult(firstOpEpoch)
    spark.stop()
  }

  /** Peak resident set of this process (VmHWM), in kB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

final class BenchRun(spark: SparkSession, tracer: Tracer, args: Main.Args) {
  import Main._

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val rng = new scala.util.Random(args.seed)
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private val queryFns = SparkEntry.queries

  new File(s"${args.work}/rows").mkdirs()

  /** Run the timed loop and record how long it took. */
  private def timedLoop(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    extra("loop_s") = (System.nanoTime() - t0) / 1e9
  }

  private var warming = false
  private var assetsBeforeLoop = Map.empty[String, Double]

  /** Ops run before the timed loop, on inputs of their own, so that the JIT
    * and Spark's lazy initialization are done before the first timed op:
    * not recorded, not traced, and their time is set-up time. */
  private def warmUp(body: => Unit): Unit = {
    warming = true
    tracer.paused = true
    try body finally { warming = false; tracer.paused = false }
    assetsBeforeLoop = graft.Assets.snapshot
  }

  /** Time one op: everything inside `body` is what the client waits for. */
  private def op(name: String, kind: String)(body: Op => Unit): Unit = {
    if (warming) return body(new Op(-1, name, kind))
    val o = new Op(ops.size, name, kind)
    ops += o
    o.startNs = tracer.nowNs
    val t0 = System.nanoTime()
    try tracer.span(s"op.$kind", o.index, "name" -> name)(body(o))
    catch { case NonFatal(e) => o.error = Some(s"${e.getClass.getName}: ${e.getMessage}") }
    o.durNs = System.nanoTime() - t0
    dumpRows(o)
  }

  private def layer[T](name: String, o: Op, attrs: (String, Any)*)(body: => T): T =
    tracer.span(name, o.index, attrs: _*)(body)

  private def dumpRows(o: Op): Unit = if (o.rows.nonEmpty) {
    val w = new BufferedWriter(new FileWriter(f"${args.work}/rows/op-${o.index}%05d.jsonl"))
    try o.rows.foreach { r => w.write(r.json); w.newLine() } finally w.close()
    o.rows = Seq.empty
  }


  // ---------------------------------------------------------------- etl_ingest

  def etlIngest(): () => Unit = {
    val manifest = new ObjectMapper().readTree(new File(s"${args.inputs}/manifest.json"))
    val perDay = manifest.at("/rows/batches_per_day").asInt
    val nBatches = manifest.at("/rows/batches").asInt
    val t0 = Instant.parse("2024-01-01T00:00:00Z")

    def batchOp(inputs: String, table: String, land: String, batch: Int): Unit = {
      val records = Files.readAllLines(
        Paths.get(f"$inputs/etl/batch-$batch%05d.jsonl"), StandardCharsets.UTF_8).asScala.toSeq
      val day = batch / perDay
      val ts = t0.plusSeconds(86400L * day + 3600L * (batch % perDay))
      // several objects per day partition: each batch lands as two
      val parts = { val (h1, h2) = records.splitAt(records.size / 2); Seq(h1, h2) }
      op(f"batch-$batch%05d", "batch") { o =>
        o.info("batch") = batch
        o.info("records") = records.size
        o.info("input_bytes") = records.map(_.length + 1L).sum
        // what appendRecords writes: each object's records joined by newlines
        o.info("appended_bytes") =
          parts.map(_.mkString("\n").getBytes(StandardCharsets.UTF_8).length.toLong).sum
        layer("io.append", o) {
          parts.zipWithIndex.foreach { case (part, k) =>
            DatasetConvention.appendRecords(spark, part, land, table, 1, ts,
              Some(() => f"batch-$batch%05d-$k.jsonl"))
          }
        }
        // drift check: every key of the batch must be a column of the table
        val inferred = layer("schema.infer", o, "records" -> records.size) {
          SchemaInference.inferFromJson(records)
        }
        if (batch == 0) layer("tables.create", o, "records" -> records.size) {
          TableOps.createTableFromRecords(spark, table, records)
        } else {
          val unknown = inferred.fieldNames.toSet -- TableOps.tableSchema(spark, table).fieldNames
          if (unknown.nonEmpty) throw new IllegalStateException(s"schema drift: $unknown")
          layer("tables.upsert", o, "records" -> records.size) {
            TableOps.upsertTableFromRecords(spark, table, records, Seq("id"))
          }
        }
        if ((batch + 1) % perDay == 0) {
          o.info("day") = day
          layer("io.compact", o) {
            DatasetConvention.compactPartition(spark, land, table,
              DatasetConvention.partitionFor(1, ts))
          }
          o.info("latest_rows") = layer("io.read_latest", o) {
            DatasetConvention.read(spark, land, table, Some(1), latestOnly = true).count()
          }
          layer("tables.ctas", o) {
            TableOps.createTableAs(spark, s"${table}_day_$day",
              spark.table(table).groupBy("category")
                .agg(count(lit(1)).as("n"), sum(col("qty")).as("qty")),
              overwrite = true)
          }
        }
      }
    }

    def replaceOp(table: String): Unit = op("replace", "replace") { o =>
      layer("tables.replace", o) {
        TableOps.replaceTable(spark, table, spark.table(table).filter(col("status") =!= "deleted"))
      }
    }

    warmUp {
      (0 until perDay).foreach(batchOp(s"${args.inputs}/$WarmUpDir", "warmup",
        s"${args.work}/warmup-land", _))
      replaceOp("warmup")
      Seq("warmup", "warmup_day_0").foreach(TableOps.deleteTable(spark, _))
    }
    () => timedLoop {
      // every batch on hand: whole days, the same in every run
      (0 until nBatches).foreach(batchOp(args.inputs, "records", s"${args.work}/land", _))
      extra("batches_applied") = nBatches
      replaceOp("records")
    }
  }

  /** Consume a result the way `query_paginated` callers do: materialize it
    * and read the first page, then up to [[MaxNextPages]] more, then release. */
  private def paged(o: Op, df: DataFrame, pack: String): Unit = {
    val dest = f"${args.work}/pages/op-${o.index}%05d"
    val rows = mutable.ArrayBuffer.empty[Row]
    val first = layer("prune.first_page", o, "pack" -> pack) {
      val p = Pagination.firstPage(df, PageSize, dest)
      rows ++= p.rows.collect()
      p
    }
    o.info("total") = tokenTotal(first.token)
    var token = first.nextToken
    var n = 0
    while (token.isDefined && n < MaxNextPages) {
      val page = layer("prune.next_page", o) {
        val p = Pagination.nextPage(spark, token.get)
        val r = p.rows.collect()
        tracer.annotate("rows", r.length)
        rows ++= r
        p
      }
      token = page.nextToken
      n += 1
    }
    layer("prune.release", o) { Pagination.release(spark, first.token) }
    o.info("pages") = n + 1
    o.rows = rows.toSeq
  }

  /** Row count carried in a continuation token (base64 JSON). */
  private def tokenTotal(token: String): Long =
    new ObjectMapper().readTree(Base64.getDecoder.decode(token)).get("total").asLong

  // ------------------------------------------------------------ corpus_curate

  def corpusCurate(): () => Unit = {
    val missing = CorpusQueries.filterNot(queryFns.contains)
    require(missing.isEmpty, s"queries not registered: $missing")

    def ingestOp(inputs: String, land: String): Unit = op("stream_ingest", "ingest") { o =>
      layer("streaming.ingest", o) {
        val q = DocsStream.corpusIngest(
            DocsStream.readDocs(spark, s"$inputs/docs_stream", maxFilesPerTrigger = Some(1)),
            land, "docs", version = 1, ts = Instant.parse("2024-03-01T00:00:00Z"),
            dedupByContent = true)
          .option("checkpointLocation", s"$land-checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        o.info("batches") = q.recentProgress.count(_.numInputRows > 0)
        o.info("input_rows") = q.recentProgress.map(_.numInputRows).sum
      }
    }

    def queryOp(inputs: String, q: String): Unit = {
      val pack = packOf(q)
      op(q, "query") { o =>
        o.info("pack") = pack
        val df = layer("queries.plan", o, "pack" -> pack) { queryFns(q)(spark, inputs) }
        // the curated corpus is browsed page by page; stage outputs are collected
        if (q == PagedCorpusQuery) paged(o, df, pack)
        else o.rows = layer("queries.collect", o, "pack" -> pack) { df.collect().toSeq }
      }
    }

    // assets are memoized per dataset, so the warm-up corpus builds its own
    warmUp {
      ingestOp(s"${args.inputs}/$WarmUpDir", s"${args.work}/warmup-land")
      CorpusQueries.foreach(queryOp(s"${args.inputs}/$WarmUpDir", _))
    }
    () => timedLoop {
      ingestOp(args.inputs, s"${args.work}/land")
      // Pipeline order first, so each asset is built by the same consumer in
      // every run; then the reuse passes, each in a seeded order.
      CorpusQueries.foreach(queryOp(args.inputs, _))
      (1 until CorpusPasses).foreach(_ => rng.shuffle(CorpusQueries).foreach(queryOp(args.inputs, _)))
    }
  }

  // ------------------------------------------------------------------ output

  def writeResult(firstOpEpoch: Double): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", args.workload)
    root.put("seed", args.seed)
    root.put("cores", args.cores)
    root.put("max_heap_bytes", Runtime.getRuntime.maxMemory)
    root.put("first_op_epoch_s", firstOpEpoch)
    root.put("peak_rss_kb", Main.peakRssKb())
    root.put("trace_cost_s", tracer.costSeconds)
    Tracer.putAll(root.putObject("extra"), extra)
    val arr = root.putArray("ops")
    ops.foreach { o =>
      val n = arr.addObject()
      n.put("index", o.index); n.put("name", o.name); n.put("kind", o.kind)
      n.put("start_s", o.startNs / 1e9); n.put("dur_s", o.durNs / 1e9)
      o.error.foreach(n.put("error", _))
      Tracer.putAll(n.putObject("info"), o.info)
    }
    // builds of the timed loop: new assets, or ones rebuilt since the warm-up
    Tracer.putAll(root.putObject("asset_builds_s"),
      graft.Assets.snapshot.filter { case (k, v) => !assetsBeforeLoop.get(k).contains(v) })
    val oracle = root.putObject("oracle_sql")
    val named = ops.map(_.name).toSet
    SparkEntry.oracleSql.foreach { case (q, sql) => if (named(q)) oracle.put(q, sql) }
    m.writeValue(new File(s"${args.work}/result.json"), root)
  }
}
