package kgbench

import graft.core._
import graft.ddi.Relations
import graft.kg.Canonicalize
import graft.ner.{Decode, MentionScorer, Train}
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Model fit through the engine's public fit functions, one call per
  * layer so each can be timed from outside: the same calls, in the same
  * order, as `Pipeline.fit` with the default hybrid scorer.
  */
final case class FitTimes(nerTrain: Double, ddiFit: Double, canonicalMap: Double)

object Kg {
  def fit(spark: SparkSession, train: Dataset[ParsedSentence]): (Pipeline.Models, FitTimes) = {
    import spark.implicits._
    val ((scorer, _), nerS) = Stats.seconds {
      val (gaz, gazN) = Train.buildGazetteer(spark, train)
      val mnb = Train.fitMnb(spark, Pipeline.featureRows(spark, train))
      (MentionScorer.resolve("hybrid", gaz, gazN, mnb), ())
    }
    val (ddi, ddiS) = Stats.seconds(Relations.fit(spark, train))
    val (canon, canonS) = Stats.seconds {
      Canonicalize
        .canonicalMap(spark, train.flatMap(s => s.entities.map(_.text)))
        .collect()
        .map(r => r.getString(0) -> r.getString(1))
        .toMap
    }
    (Pipeline.Models(scorer, ddi, canon), FitTimes(nerS, ddiS, canonS))
  }

  /** Digest of a scoring pass's output, one row per sentence. */
  def passDigest(scored: Dataset[Pipeline.SentenceResult]): DataFrame =
    scored.toDF().select(col("sid"), col("mentions"), col("triples"))

  def mentionRows(scored: Dataset[Pipeline.SentenceResult]): DataFrame =
    scored.toDF().select(explode(col("mentions")).as("m")).select("m.*")

  def tripleRows(scored: Dataset[Pipeline.SentenceResult]): DataFrame =
    scored.toDF().select(explode(col("triples")).as("t")).select("t.*")

  /** CLASS-row F1 of the engine's evaluator. */
  def classF1(rows: Seq[EvalRow]): Double =
    rows.find(_.kind == "CLASS").map(_.f1).getOrElse(throw new IllegalStateException("no CLASS row"))
}

/** Span names of the traced scoring loop and their tree:
  * task > doc > core.XmlParse, and task > doc > sentence > the six
  * per-sentence calls of `Pipeline.score`.
  */
object KgSpans {
  val TaskS = 0; val DocS = 1; val ParseS = 2; val SentS = 3; val TokS = 4
  val ScoreS = 5; val DecodeS = 6; val FeatS = 7; val DecideS = 8; val CanonS = 9
  val names: Array[String] = Array(
    "task", "doc", "core.XmlParse", "sentence", "core.Tokenize", "ner.Scorer", "ner.Decode",
    "ddi.Relations.features", "ddi.Relations.decide", "kg.canon")
  /** The layer spans whose self times make up the stage sum. */
  val layers: Seq[Int] = Seq(ParseS, TokS, ScoreS, DecodeS, FeatS, DecideS, CanonS)

  val counterNames: Array[String] = Array(
    "core.XmlParse.docs", "core.XmlParse.sentences", "core.XmlParse.malformed",
    "core.Tokenize.tokens", "ner.Decode.mentions", "ddi.Relations.pairs",
    "ddi.Relations.relations", "kg.triples")
  val Docs = 0; val Sents = 1; val Malformed = 2; val Tokens = 3; val Mentions = 4
  val Pairs = 5; val Rels = 6; val Triples = 7
}

/** One task's reduced trace: self nanoseconds per span name, the layer
  * counters, and the first spans as a sample.
  */
final case class TaskTrace(
    partition: Int,
    selfNs: Array[Long],
    counters: Array[Long],
    sample: Array[Long] // (name, start, end, parent) quadruples
)

/** In-task span buffer: primitive arrays, no allocation per span. */
final class SpanBuffer {
  private var n = 0
  private var name = new Array[Int](1 << 14)
  private var start = new Array[Long](1 << 14)
  private var end = new Array[Long](1 << 14)
  private var parent = new Array[Int](1 << 14)

  def begin(id: Int, par: Int): Int = {
    if (n == name.length) {
      val c = n * 2
      name = java.util.Arrays.copyOf(name, c); start = java.util.Arrays.copyOf(start, c)
      end = java.util.Arrays.copyOf(end, c); parent = java.util.Arrays.copyOf(parent, c)
    }
    name(n) = id; parent(n) = par; start(n) = System.nanoTime()
    n += 1
    n - 1
  }

  def finish(i: Int): Unit = end(i) = System.nanoTime()

  /** Self time = span duration minus the time its children cover
    * (children never overlap: the loop is sequential within a task).
    */
  def reduce(partition: Int, counters: Array[Long], sampleSpans: Int): TaskTrace = {
    val self = new Array[Long](KgSpans.names.length)
    val childNs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val d = end(i) - start(i)
      if (parent(i) >= 0) childNs(parent(i)) += d
      i += 1
    }
    i = 0
    while (i < n) {
      self(name(i)) += end(i) - start(i) - childNs(i)
      i += 1
    }
    val m = math.min(n, sampleSpans)
    val sample = new Array[Long](4 * m)
    i = 0
    while (i < m) {
      sample(4 * i) = name(i); sample(4 * i + 1) = start(i); sample(4 * i + 2) = end(i)
      sample(4 * i + 3) = parent(i)
      i += 1
    }
    TaskTrace(partition, self, counters, sample)
  }
}

object TracedScore {
  import KgSpans._

  /** The benchmark's own per-sentence loop: the public functions
    * `Pipeline.parse` and `Pipeline.score` call, in the same order, each
    * wrapped in a span. Output rows equal `Pipeline.score`'s; the reduced
    * trace of each task goes to the driver through `acc`.
    */
  def run(
      spark: SparkSession,
      docs: DataFrame,
      models: org.apache.spark.broadcast.Broadcast[Pipeline.Models],
      acc: org.apache.spark.util.CollectionAccumulator[TaskTrace]
  ): Dataset[Pipeline.SentenceResult] = {
    import spark.implicits._
    docs.select(col("repo"), col("content")).as[(String, String)].mapPartitions { it =>
      val m = models.value
      val buf = new SpanBuffer
      val ctr = new Array[Long](counterNames.length)
      val root = buf.begin(TaskS, -1)

      def sentence(s: ParsedSentence, docSpan: Int): Pipeline.SentenceResult = {
        val sp = buf.begin(SentS, docSpan)
        var t = buf.begin(TokS, sp)
        val toks = Tokenize.tokenize(s.text)
        buf.finish(t)
        t = buf.begin(ScoreS, sp)
        val tags = m.scorer.tagSentence(toks)
        buf.finish(t)
        t = buf.begin(DecodeS, sp)
        val tagged =
          toks.indices.map(i => TaggedTok(toks(i).form, toks(i).start, toks(i).end, tags(i)))
        val ms = Decode.decode(s.sid, tagged)
        buf.finish(t)

        val byId = s.entities.iterator.map(e => e.entityId -> e).toMap
        lazy val lcForms = Relations.lowerForms(toks)
        val rels = s.pairs.flatMap { p =>
          for {
            e1 <- byId.get(p.e1)
            e2 <- byId.get(p.e2)
            feats = { val f = buf.begin(FeatS, sp); val r = Relations.pairFeatures(toks, lcForms, e1, e2, s.entities); buf.finish(f); r }
            dtype = { val d = buf.begin(DecideS, sp); val r = Relations.decide(m.ddi, feats); buf.finish(d); r }
            if dtype != "none"
          } yield Relation(s.sid, p.e1, p.e2, dtype)
        }
        t = buf.begin(CanonS, sp)
        def canonOf(x: String): String = {
          val lc = x.toLowerCase(java.util.Locale.ROOT).trim
          m.canon.getOrElse(lc, lc)
        }
        val trips = rels.map { r =>
          Triple(canonOf(byId(r.e1).text), r.dtype, canonOf(byId(r.e2).text), s.sid, r.e1, r.e2, s.repo)
        }
        val out = Pipeline.SentenceResult(s.repo, s.docId, s.sid, ms, trips)
        buf.finish(t)
        buf.finish(sp)
        ctr(Sents) += 1; ctr(Tokens) += toks.length; ctr(Mentions) += ms.length
        ctr(Pairs) += s.pairs.length; ctr(Rels) += rels.length; ctr(Triples) += trips.length
        out
      }

      val out = it.flatMap { case (repo, content) =>
        val d = buf.begin(DocS, root)
        val p = buf.begin(ParseS, d)
        val parsed = XmlParse.parseDocEither(repo, content)
        buf.finish(p)
        ctr(Docs) += 1
        val sents = parsed match {
          case Right(ss) => ss
          case Left(_)   => ctr(Malformed) += 1; Nil
        }
        val res = sents.map(sentence(_, d))
        buf.finish(d)
        res
      }
      new Iterator[Pipeline.SentenceResult] {
        private var flushed = false
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !flushed) {
            flushed = true
            buf.finish(root)
            acc.add(buf.reduce(org.apache.spark.TaskContext.getPartitionId(), ctr, 64))
          }
          h
        }
        def next(): Pipeline.SentenceResult = out.next()
      }
    }
  }
}
