package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.jobs.RawPersistJob
import graft.streaming.ReplayServer

/** Streaming end-to-end throughput: ReplayServer → socket source →
  * RawPersistJob foreachBatch (parse + flatten + 4 parquet appends per
  * micro-batch), measured as block lines/s from query start until every
  * line is committed. This is the engine-side number to regress against;
  * the reference's observed end-to-end rate was ≈0.26 vol rows/s
  * (REST-bound — BASELINE.md), so the comparison is vs our own rounds,
  * not the reference.
  *
  * Blocks carry 2 txs each (one minting, one spending the prior block's
  * output) — the same shape ThroughputBench uses for the batch core.
  *
  * Usage: runMain graft.tools.StreamThroughputBench [numBlocks] [outDir]
  */
object StreamThroughputBench {
  private def blockLine(i: Long): String = {
    val prev = math.max(i - 1, 0)
    s"""{"py/state":{"blocktype":"praos","era":"conway","height":$i,"id":"b$i","slot":${i * 20},"transactions":[{"id":"a$i","inputs":[],"outputs":[{"address":"w${i % 1000}","datum":null,"value":"{\\"ada\\":{\\"lovelace\\":${i + 1000000}},\\"p1\\":{\\"6161\\":${i + 7}}}"}],"fee":"1"},{"id":"b$i","inputs":[{"index":0,"transaction":{"id":"a$prev"}}],"outputs":[{"address":"x${i % 997}","datum":null,"value":"{\\"ada\\":{\\"lovelace\\":${i + 500000}}}"}],"fee":"2"}]}}"""
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val out = args.drop(1).headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_stput").toString)
    val spark = graft.Session.local()

    val lines = (0L until n).map(blockLine)
    println(s"[stput] replaying $n block lines (2 txs each) → $out")

    // committed-row accumulator: a batch's rows count only after its
    // foreachBatch (all four parquet appends) has completed
    val committed = new java.util.concurrent.atomic.AtomicLong(0)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        if (e.progress.numInputRows > 0) {
          committed.addAndGet(e.progress.numInputRows)
          batches.incrementAndGet()
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    // pace the producer at ~40k lines/s — above the engine's measured
    // rate, so micro-batches form and the number is the engine's
    // sustained multi-batch throughput, not one burst batch
    val server = new ReplayServer(lines, chunkSize = 4000, pauseMs = 100)
      .start()
    val t0 = System.nanoTime()
    val q = RawPersistJob.run(spark, "localhost", server.port, out)
    val deadline = System.currentTimeMillis() + 600000
    while (committed.get() < n && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    q.stop(); server.stop()

    val blockRows = spark.read.parquet(s"$out/block").count()
    val txRows = spark.read.parquet(s"$out/tx").count()
    println(f"[stput] $blockRows blocks / $txRows txs committed across " +
      f"${batches.get()} micro-batches in $secs%.1f s = " +
      f"${blockRows / secs}%.0f blocks/s, ${txRows / secs}%.0f tx/s " +
      f"(4 parquet appends per batch)")
    spark.stop()
  }
}
