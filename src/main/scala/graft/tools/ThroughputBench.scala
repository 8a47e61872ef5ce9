package graft.tools

import org.apache.spark.sql.functions._
import graft.ingest.BlockParser
import graft.ops._

/** End-to-end pipeline throughput: synthesizes N block lines (2 txs each,
  * realistic token maps, chained inputs), then runs the full native
  * pipeline (parse → flatten → token explode → resolve → net-flow →
  * price-adjust → vol) and reports blocks/s.
  *
  * Context (BASELINE.md): the reference's observed end-to-end rate was
  * ≈0.26 vol rows/s — REST-bound at 10 tx/batch. The native pipeline is
  * bound only by CPU and shuffle.
  *
  * Usage: runMain graft.tools.ThroughputBench [numBlocks]
  */
object ThroughputBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = graft.Session.local()
    import spark.implicits._

    // block i: tx A_i mints to addr(i), tx B_i spends tx A_{i-1}'s output
    val lines = spark.range(n).select(
      concat(
        lit("""{"py/state":{"blocktype":"praos","era":"conway","height":"""),
        col("id"), lit(""","id":"b"""), col("id"),
        lit("""","slot":"""), col("id") * 20,
        lit(""","transactions":[{"id":"a"""), col("id"),
        lit("""","inputs":[],"outputs":[{"address":"w"""), col("id") % 1000,
        lit("""","datum":null,"value":"{\"ada\":{\"lovelace\":"""),
        col("id") + 1000000, lit("""},\"p1\":{\"6161\":"""), col("id") + 7,
        lit("""}}"}],"fee":"1"},{"id":"b"""), col("id"),
        lit("""","inputs":[{"index":0,"transaction":{"id":"a"""),
        greatest(col("id") - 1, lit(0)),
        lit(""""}}],"outputs":[{"address":"x"""), col("id") % 997,
        lit("""","datum":null,"value":"{\"ada\":{\"lovelace\":"""),
        col("id") + 500000,
        lit("""}}"}],"fee":"2"}]}}""")).as("value"))
      .cache()
    println(s"[tput] blocks: ${lines.count()}")

    val dim = Pricing.dimension(
      Seq(("p16161", 2.0)).toDF("unit", "last_price_ada"),
      Seq(("p16161", 2)).toDF("unit", "decimals"))

    val t0 = System.nanoTime()
    val txs = Flatten.transactions(BlockParser.parse(lines))
    val outFlows = TokenValues.outputFlows(txs).persist()
    val inFlows = Resolver.resolve(Resolver.outpoints(txs), outFlows)
    val net = NetFlow.compute(outFlows, inFlows)
    val vol = Volume.vol(net,
      txs.select(col("hash"), col("height"), col("slot")), dim)
    val volRows = vol.count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[tput] full pipeline: $volRows vol rows in $secs%.1f s " +
      f"= ${n / secs}%.0f blocks/s, ${volRows / secs}%.0f vol rows/s " +
      f"(reference observed ≈0.26 vol rows/s end-to-end)")
    spark.stop()
  }
}
