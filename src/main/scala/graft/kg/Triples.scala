package graft.kg

import graft.core.{ParsedSentence, Relation, Triple}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Graph materialization: (drug_subj, interaction_pred, drug_obj) triples
  * (north-star output), with evaluator-parity key columns (sid, e1, e2)
  * and the source `repo` partition key.
  *
  * Scale decisions (SURVEY §4):
  *   - the relation→entity-text resolution is a per-sentence LOCAL map
  *     (both live in the same ParsedSentence), so it joins on `sid` only
  *     once, against the nested sentence row — implemented as a single
  *     equi-join that AQE can plan as broadcast when one side is small;
  *   - canonicalization is applied via broadcast of the (small) canonical
  *     map — distinct drug surfaces are bounded by vocabulary, not corpus
  *     size;
  *   - hot-drug aggregations (e.g. triple counts per canonical drug —
  *     `warfarin` ×191 in the reference train split alone) go through a
  *     SALTED two-phase aggregation; `saltedCounts` and the plain groupBy
  *     are property-tested equal.
  */
object Triples {

  /** Resolve relations to triples. `sents` carries entity id→text; the
    * join is on sid (entity ids embed the sid prefix, so sentence-level
    * co-location is exact).
    */
  def materialize(
      spark: SparkSession,
      sents: Dataset[ParsedSentence],
      rels: Dataset[Relation],
      canonical: Map[String, String]
  ): Dataset[Triple] = {
    import spark.implicits._
    val canonB = spark.sparkContext.broadcast(canonical)

    // canonicalization happens inside the same typed flatMap that
    // flattens entities (broadcast-map lookup, mirroring Pipeline.score's
    // canonOf) — no UDF in the join/select plan, so everything after
    // this dataset stays inside whole-stage codegen
    val entText = sents.flatMap { s =>
      val canon = canonB.value
      s.entities.map { e =>
        val lc = e.text.toLowerCase(java.util.Locale.ROOT).trim
        (s.sid, e.entityId, canon.getOrElse(lc, lc), s.repo)
      }
    }.toDF("sid", "eid", "etext", "repo")

    val r = rels.toDF("sid", "e1", "e2", "dtype")
    r.join(
        entText.select($"eid".as("e1"), $"etext".as("t1"), $"repo"),
        Seq("e1")
      )
      .join(entText.select($"eid".as("e2"), $"etext".as("t2")), Seq("e2"))
      .select(
        $"t1".as("drugSubj"),
        $"dtype".as("interactionPred"),
        $"t2".as("drugObj"),
        $"sid",
        $"e1",
        $"e2",
        $"repo"
      )
      .as[Triple]
  }

  /** Two-phase salted count per (drugSubj): phase 1 groups on
    * (key, salt = pmod(hash(sid||e2), S)) so a hot drug's rows spread over
    * S reducers; phase 2 sums the S partials. Result is provably equal to
    * the direct groupBy (associative count) — kept as the skew-defusing
    * form for hot keys (SURVEY §4: salting; AQE skew handling is the
    * backstop for joins).
    */
  def saltedCounts(triples: Dataset[Triple], salts: Int = 32): DataFrame = {
    val t = triples.toDF()
    t.withColumn("salt", pmod(hash(col("sid"), col("e2")), lit(salts)))
      .groupBy(col("drugSubj"), col("salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("drugSubj"))
      .agg(sum(col("partial")).as("n"))
  }

  /** Unsalted direct aggregation (the correctness oracle for salting). */
  def plainCounts(triples: Dataset[Triple]): DataFrame =
    triples.toDF().groupBy(col("drugSubj")).agg(count(lit(1)).as("n"))
}
