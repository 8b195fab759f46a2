package kgbench

import graft.fixtures.DocGen
import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession

/** Workload `kg`: the KG layers from both sides, in one closed-loop
  * driver at local[nproc]. The batch leg times fused scoring passes over
  * a cached corpus (`KgScore`); the stream leg times a streamed,
  * resumable ingest that fits from scratch (`KgIngest`).
  */
object KgWorkload {
  def trainSize(o: Opts): Long = if (o.tiny) 200L else 500L

  def run(spark: SparkSession, o: Opts, ledger: Ledger, sessionS: Double, res: Result, spans: Spans): Unit = {
    val reps = if (o.tiny) 1 else 3
    val setups = (1 to reps).map { i =>
      val (in, s) = Stats.seconds(Stats.phase(s"kg setup $i") {
        val train = Stats.phase("  train corpus") {
          val t = Pipeline.parse(spark, DocGen.corpus(spark, trainSize(o), seed = o.seed * 31 + 7)).cache()
          t.count()
          t
        }
        (Stats.phase("  score input")(KgScore.setup(spark, o, train)),
          Stats.phase("  ingest input")(KgIngest.setup(spark, o, train, i)))
      })
      if (i < reps) {
        KgScore.release(in._1); KgIngest.release(in._2); in._2.train.unpersist(true)
      }
      (in, s)
    }
    val (score, ingest) = setups.last._1
    res.put("setup_s", sessionS + Stats.median(setups.map(_._2)), "s")

    val probe = if (o.trace) Some(new Probe(spark)) else None
    spans("kg.score")(KgScore.leg(spark, o, score, ledger, res, spans, probe))
    spans("kg.ingest")(KgIngest.leg(spark, o, ingest, ledger, res, spans, probe))
    probe.foreach(_.stop())
  }
}
