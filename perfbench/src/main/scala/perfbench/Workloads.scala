package perfbench

import java.io.File
import java.util.{LinkedHashMap => JMap, List => JList}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.graph.PageRank
import graft.ingest.BlockParser
import graft.jobs._
import graft.ops._

final case class Ctx(spark: SparkSession, rec: Recorder, data: String,
                     work: String, seed: Long,
                     goldens: Option[JMap[String, Any]],
                     dump: Option[String]) {
  def facts(name: String): JMap[String, Any] = Main.readJson(s"$data/$name")
}

/** A closed-loop workload: one client, and each operation starts only
  * after the previous one has committed. */
trait Workload {
  def name: String
  /** Untimed warm-up; the run's set-up time ends when it returns. */
  def warmup(ctx: Ctx): Unit
  def pass(ctx: Ctx, n: Int): Unit
  /** Passes an untraced run makes even when they outlast `--seconds`. */
  def minPasses: Int = 1
  def maxPasses(ctx: Ctx): Int = Int.MaxValue
  /** End-of-run checks (recorded as operations) and the run's facts. */
  def finish(ctx: Ctx, passes: Int): Map[String, Any] = Map.empty
}

object Workloads {
  /** (query, the module its time is assigned to), for the two families
    * the `queries` workload runs together. Each list is the part of its
    * family that fits the run-time budget of the benchmark (see
    * README.md): one member per module where possible, the cheapest
    * where a module has several. */
  val iterative: Seq[(String, String)] = Seq(
    "q87_bfs_hops" -> "graph", "q111_dedup_reps" -> "dedup",
    "q106_corpus_pipeline" -> "pipeline", "q142_semantic_int_dedup" -> "sim")
  val singlePass: Seq[(String, String)] = Seq(
    "q01_agg_sums" -> "ops", "q74_cube" -> "ops", "q70_fuzzy_join" -> "ops",
    "q62_simhash_pairs" -> "functions", "q64_countmin" -> "functions",
    "q25_cosine_topk" -> "functions", "q23_langid" -> "text",
    "q48_asof_rates" -> "plans", "q56_range_join" -> "plans")

  val family: Map[String, String] =
    (iterative.map(_._1 -> "iterative") ++
      singlePass.map(_._1 -> "single_pass")).toMap

  def apply(name: String): Workload = name match {
    case "queries" => new QueryWorkload(name, iterative ++ singlePass,
      kernels = true)
    case "ingest" => Ingest
  }

  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  /** Data files and bytes under a directory tree. */
  def du(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(new File(dir))
    (files.count(f => f.getName.startsWith("part-")),
      files.map(_.length).sum)
  }

  def asLong(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue
    case s: String => s.toLong
  }
  def longs(v: Any): IndexedSeq[Long] =
    v.asInstanceOf[JList[Any]].asScala.map(asLong).toIndexedSeq
}

/** Row count plus an order-independent 64-bit hash of a query's output,
  * computed by the same action that materialises it. */
object Fingerprint {
  def of(rows: RDD[InternalRow], schema: StructType): (Long, Long) =
    rows.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
}

/** Registry queries, each run through `SparkEntry.queries` and
  * materialised in full, as `graft.Bench` does. The seed permutes the
  * order of the queries within each pass. With `kernels`, a traced run
  * also times the `graft_*` SQL functions. */
final class QueryWorkload(val name: String, members: Seq[(String, String)],
                          kernels: Boolean = false) extends Workload {
  /** Each query counts with the faster of its two runs. */
  override def minPasses: Int = 2

  private def run(ctx: Ctx, q: String, module: String, pass: Int,
                  exclusive: Boolean): Unit = {
    val rec = ctx.rec
    rec.op(q, module, pass, exclusive) {
      val df = rec.span("query.build")(
        SparkEntry.queries(q)(ctx.spark, s"${ctx.data}/tables"))
      val qe = df.queryExecution
      rec.span("query.plan")(qe.executedPlan)
      val (rows, hash) = rec.span("query.exec")(
        Fingerprint.of(qe.toRdd, df.schema))
      val check = ctx.goldens.map(_.get(q).asInstanceOf[JMap[String, Any]])
        .flatMap { g =>
          if (g == null) Some(s"no golden for $q")
          else {
            val wantRows = Workloads.asLong(g.get("rows"))
            val byHash = g.get("check") == "hash"
            val wantHash = Workloads.asLong(g.get("hash"))
            if (rows != wantRows) Some(s"rows $rows, golden $wantRows")
            else if (byHash && hash != wantHash)
              Some(s"hash $hash, golden $wantHash")
            else None
          }
        }
      ((), Map[String, Any]("rows" -> rows, "hash" -> hash.toString,
        "family" -> Workloads.family(q)) ++ check.map("check" -> _))
    }
  }

  /** Every member once, `cores` at a time: the codegen and JIT cost of
    * the first run is paid here, on every core. */
  def warmup(ctx: Ctx): Unit = {
    val threads = ctx.spark.sparkContext.defaultParallelism
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val all = members.map { case (q, m) =>
      Future(run(ctx, q, m, 0, exclusive = false))
    }
    Await.result(Future.sequence(all), Duration.Inf)
    pool.shutdown()
    Workloads.unpersistAll(ctx.spark)
  }

  def pass(ctx: Ctx, n: Int): Unit = {
    val order = new scala.util.Random(ctx.seed * 7919L + n).shuffle(members)
    for ((q, m) <- order) {
      run(ctx, q, m, n, exclusive = true)
      Workloads.unpersistAll(ctx.spark)
    }
  }

  override def finish(ctx: Ctx, passes: Int): Map[String, Any] = {
    if (ctx.rec.tracing && kernels) Kernels.run(ctx, passes)
    ctx.dump.foreach { dir =>
      for ((q, _) <- members)
        SparkEntry.queries(q)(ctx.spark, s"${ctx.data}/tables").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$q")
      val sql = new JMap[String, Any]()
      for ((q, _) <- members; s <- SparkEntry.oracleSql.get(q)) sql.put(q, s)
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValue(new File(s"$dir/oracle_sql.json"), sql)
    }
    Map.empty
  }
}

/** ns/row of the `graft_*` SQL functions over generated columns, each
  * into a noop sink. Only the traced run pays for it. */
object Kernels {
  val vectorRows = 50000L
  val scalarRows = 1000000L

  def run(ctx: Ctx, pass: Int): Unit = {
    val spark = ctx.spark
    graft.functions.GraftFunctions.registerAll(spark)
    def vec(seed: Int) = array((0 until 64).map(i =>
      rand(seed * 100L + i) - lit(0.5)): _*)
    val vecs = spark.range(vectorRows)
      .select(col("id"), vec(1).as("a"), vec(2).as("b")).persist()
    vecs.count()
    vecs.createOrReplaceTempView("pb_vecs")
    val scal = spark.range(scalarRows)
      .select(col("id"), xxhash64(col("id")).as("h"),
        rand(3).as("score")).persist()
    scal.count()
    scal.createOrReplaceTempView("pb_scalars")
    val kernels = Seq(
      "dot" -> "SELECT graft_dot(a, b) FROM pb_vecs",
      "cosine" -> "SELECT graft_cosine(a, b) FROM pb_vecs",
      "lsh_sigs" -> "SELECT graft_lsh_sigs(a, 4, 16, 64) FROM pb_vecs",
      "minhash" -> ("SELECT graft_minhash(h, 64) FROM pb_scalars " +
        "GROUP BY id % 1000"),
      "simhash" -> ("SELECT graft_simhash(h) FROM pb_scalars " +
        "GROUP BY id % 1000"),
      "topk" -> ("SELECT graft_topk(score, id, 10) FROM pb_scalars " +
        "GROUP BY id % 1000"),
      "countmin" -> ("SELECT graft_countmin(array(pmod(h, 1024), " +
        "pmod(h div 1024, 1024)), 2, 1024) FROM pb_scalars"),
      "hist_quantiles" -> ("SELECT graft_hist_quantiles(id % 100000, 0, " +
        "100, 1000, 50, 90, 99) FROM pb_scalars GROUP BY id % 100"))
    for ((k, sql) <- kernels) {
      val rows = if (Set("dot", "cosine", "lsh_sigs")(k)) vectorRows
        else scalarRows
      ctx.rec.op(s"functions.$k", "functions", pass) {
        spark.sql(sql).write.format("noop").mode("overwrite").save()
        ((), Map[String, Any]("rows" -> rows))
      }
    }
    vecs.unpersist(); scal.unpersist()
  }
}

/** The write paths, one after the other in each pass: a chain
  * micro-batch and its rollup tick ([[ChainEtl]]), then a document
  * micro-batch and the compaction of its store ([[StoreIngest]]). The
  * warm-up runs batch 0 of both at once. */
object Ingest extends Workload {
  val name = "ingest"

  override def maxPasses(ctx: Ctx): Int =
    math.min(ChainEtl.maxPasses(ctx), StoreIngest.maxPasses(ctx))

  def warmup(ctx: Ctx): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val docs = Future(StoreIngest.pass(ctx, 0, exclusive = false))
    ChainEtl.warmup(ctx)
    Await.result(docs, Duration.Inf)
  }

  def pass(ctx: Ctx, n: Int): Unit = {
    ChainEtl.pass(ctx, n)
    StoreIngest.pass(ctx, n, exclusive = true)
  }

  override def finish(ctx: Ctx, passes: Int): Map[String, Any] =
    ChainEtl.finish(ctx, passes) ++ StoreIngest.finish(ctx, passes)
}

/** The paper's pipeline: seeded block lines in micro-batches through the
  * raw and vol/transfer jobs, with a rollup tick (vol_by_block,
  * vol_all_time, PageRank) after each pass's batch. The utxo store and
  * the rollups keep growing across passes. Batch 0 is the warm-up's. */
object ChainEtl {

  private def out(ctx: Ctx, t: String) = s"${ctx.work}/chain/$t"
  private def lines(ctx: Ctx, b: Int): DataFrame =
    ctx.spark.read.text(f"${ctx.data}/blocks/b$b%03d.jsonl")
  def maxPasses(ctx: Ctx): Int =
    Workloads.asLong(ctx.facts("chain.json").get("batches")).toInt - 1

  private def priceDim(ctx: Ctx): DataFrame = {
    val p = ctx.spark.read.parquet(s"${ctx.data}/prices.parquet")
    Pricing.dimension(p.select("unit", "last_price_ada"),
      p.select("unit", "decimals"))
  }

  private var dim: DataFrame = _

  /** The batch jobs only, both at once on the small batch 0 (they write
    * to separate tables): a tick compiles fresh PageRank plans each
    * time, so warming it up saves the measured tick nothing. */
  def warmup(ctx: Ctx): Unit = {
    dim = priceDim(ctx)
    val in = lines(ctx, 0)
    val rec = ctx.rec
    implicit val ec: ExecutionContext = ExecutionContext.global
    val raw = Future(rec.op("jobs.raw_persist", "jobs", 0, exclusive = false) {
      RawPersistJob.writeBatch(in, out(ctx, "raw"))
      ((), Map[String, Any]("batch" -> 0))
    })
    rec.op("jobs.vol_transfer", "jobs", 0, exclusive = false) {
      VolTransferJob.writeBatch(ctx.spark, in, dim, out(ctx, "flows"))
      ((), Map[String, Any]("batch" -> 0))
    }
    Await.result(raw, Duration.Inf)
  }

  /** Pass `n` ingests batch `n` and rolls up everything not yet rolled
    * up: batch `n`, and the warm-up's batch 0 on the first pass. */
  def pass(ctx: Ctx, n: Int): Unit = {
    val rec = ctx.rec
    val in = lines(ctx, n)
    rec.op("jobs.raw_persist", "jobs", n) {
      RawPersistJob.writeBatch(in, out(ctx, "raw"))
      ((), Map[String, Any]("batch" -> n))
    }
    rec.op("jobs.vol_transfer", "jobs", n) {
      VolTransferJob.writeBatch(ctx.spark, in, dim, out(ctx, "flows"))
      ((), Map[String, Any]("batch" -> n))
    }
    if (rec.tracing) layers(ctx, in, n)
    val heights = Workloads.longs(ctx.facts("chain.json").get("first_height"))
    rec.op("jobs.rollup", "jobs", n) {
      RollupJob.run(ctx.spark, out(ctx, "flows"),
        Some(heights(if (n == 1) 0 else n)))
      ((), Map.empty[String, Any])
    }
    if (rec.tracing) rec.op("graph.pagerank", "graph", n) {
      val e = ctx.spark.read.parquet(out(ctx, "flows") + "/edges")
        .select(col("send_addr").as("src"), col("rx_addr").as("dst"))
      (PageRank.run(e).count(), Map.empty[String, Any])
    }
  }

  /** Traced only, after the batch's jobs have committed, so that those
    * are timed as in an untraced pass: the public operators the
    * vol/transfer job is built from, each layer's output materialised
    * once and cached, so each layer's time is its own. They resolve
    * against the utxo store as the job left it, which already holds the
    * batch's own outputs, as it did when the job resolved. These are
    * probes of the layers, not a split of the job's own time. */
  private def layers(ctx: Ctx, in: DataFrame, n: Int): Unit = {
    val rec = ctx.rec
    def cut(name: String, module: String)(df: => DataFrame): DataFrame =
      rec.op(name, module, n) {
        val d = df.persist(); d.count(); (d, Map.empty[String, Any])
      }.get
    val blocks = cut("ingest.parse", "ingest")(BlockParser.parse(in))
    val txs = cut("ops.flatten", "ops")(Flatten.transactions(blocks))
    val outFlows = cut("ops.output_flows", "ops")(
      TokenValues.outputFlows(txs))
    val utxo = ctx.spark.read.parquet(out(ctx, "flows") + "/utxo")
    val points = Resolver.outpoints(txs)
    val inFlows = cut("ops.resolve", "ops")(Resolver.resolve(points, utxo))
    rec.op("probe.resolve_hits", "harness", n) {
      val hit = points.join(utxo.select(col("hash").as("src_tx_hash"),
        col("output_index")).distinct(), Seq("src_tx_hash", "output_index"),
        "left_semi").count()
      ((), Map[String, Any]("hits" -> hit, "outpoints" -> points.count()))
    }
    val net = cut("ops.netflow", "ops")(NetFlow.compute(outFlows, inFlows))
    cut("ops.volume", "ops")(
      Volume.vol(net, txs.select("hash", "height", "slot"), dim))
    cut("ops.transfers", "ops")(Transfers.edges(net, dim))
    Workloads.unpersistAll(ctx.spark)
  }

  def finish(ctx: Ctx, passes: Int): Map[String, Any] = {
    val spark = ctx.spark
    val f = ctx.facts("chain.json")
    val nb = passes + 1
    val rec = ctx.rec
    rec.op("check.resolved_spends", "harness", passes) {
      val all = spark.read.text((0 until nb).map(b =>
        f"${ctx.data}/blocks/b$b%03d.jsonl"): _*)
      val txs = Flatten.transactions(BlockParser.parse(all))
      val got = Resolver.resolve(Resolver.outpoints(txs),
        spark.read.parquet(out(ctx, "flows") + "/utxo")).count()
      val want = Workloads.longs(f.get("resolved_cum"))(nb - 1)
      ((), if (got == want) Map.empty[String, Any]
        else Map[String, Any]("check" -> s"resolved $got, expected $want"))
    }
    rec.op("check.blocks_written", "harness", passes) {
      val got = spark.read.parquet(out(ctx, "raw") + "/block").count()
      val want = Workloads.longs(f.get("blocks_cum"))(nb - 1)
      ((), if (got == want) Map.empty[String, Any]
        else Map[String, Any]("check" -> s"blocks $got, expected $want"))
    }
    rec.op("check.all_time_totals", "harness", passes) {
      val byBlock = spark.read.parquet(out(ctx, "flows") + "/vol_by_block")
        .groupBy("unit").agg(sum("value_adj").as("s"))
      val allTime = spark.read.parquet(out(ctx, "flows") + "/vol_all_time")
        .select(col("unit"), col("value_adj").as("a"))
      val bad = byBlock.join(allTime, Seq("unit"), "full_outer")
        .filter(col("s").isNull || col("a").isNull ||
          abs(col("s") - col("a")) > greatest(abs(col("s")), lit(1e-3)) * 1e-9)
        .count()
      ((), if (bad == 0) Map.empty[String, Any]
        else Map[String, Any]("check" -> s"$bad units disagree"))
    }
    val (files, bytes) = Workloads.du(s"${ctx.work}/chain")
    Map("batches" -> nb, "sink_files" -> files, "sink_bytes" -> bytes,
      "input_bytes" -> Workloads.longs(f.get("bytes_cum"))(nb - 1),
      "blocks" -> Workloads.longs(f.get("blocks_cum"))(nb - 1))
  }
}

/** Seeded document micro-batches through the exact-dedup ingest job
  * (`DedupIngestJob`: content hash, in-batch dedup, anti-join against
  * the bucketed hash store, append to the corpus and the store), each
  * followed by a compaction of the store (`io.BucketedStore.compact`).
  * Batch `n` is ingested by pass `n`; batch 0 by the warm-up. */
object StoreIngest {
  private def out(ctx: Ctx) = s"${ctx.work}/docs"
  private def store(ctx: Ctx) = s"${out(ctx)}/content_hash"

  def maxPasses(ctx: Ctx): Int =
    Workloads.asLong(ctx.facts("docs.json").get("batches")).toInt - 1

  def pass(ctx: Ctx, n: Int, exclusive: Boolean): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    val fresh = Workloads.longs(ctx.facts("docs.json").get("fresh"))
    val docs = spark.read.parquet(f"${ctx.data}/docs/d$n%03d.parquet")
    rec.op("jobs.dedup_batch", "jobs", n, exclusive) {
      val kept = DedupIngestJob.writeBatch(docs, out(ctx))
      ((), Map[String, Any]("batch" -> n, "fresh" -> kept) ++
        (if (kept == fresh(n)) None
         else Some("check" -> s"appended $kept, expected ${fresh(n)}")))
    }
    val before = spark.read.parquet(store(ctx)).count()
    rec.op("io.compact", "io", n, exclusive) {
      DedupIngestJob.compactStores(spark, out(ctx))
      ((), Map.empty[String, Any])
    }
    rec.op("check.compaction_rows", "harness", n, exclusive) {
      val after = spark.read.parquet(store(ctx)).count()
      ((), if (after == before) Map.empty[String, Any]
        else Map[String, Any]("check" -> s"rows $before became $after"))
    }
  }

  def finish(ctx: Ctx, passes: Int): Map[String, Any] = {
    val f = ctx.facts("docs.json")
    val (files, bytes) = Workloads.du(store(ctx))
    val perBucket = graft.io.Layout.bucketFileCounts(ctx.spark, store(ctx))
      .values
    Map("store_files" -> files, "store_bytes" -> bytes,
      "files_per_bucket_max" -> (if (perBucket.isEmpty) 0 else perBucket.max),
      "doc_disk_bytes" -> Workloads.du(out(ctx))._2,
      "doc_input_bytes" -> Workloads.longs(f.get("bytes_cum"))(passes))
  }
}
