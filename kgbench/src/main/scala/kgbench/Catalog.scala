package kgbench

import graft.{Bench, SparkEntry}
import graft.ops.TextOps
import graft.streaming.StreamOps
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Workload `catalog`: the sf-dir-driven curation catalog over seeded
  * sf0.1-shaped tables (batch leg, each query a noop action), then its
  * stream leg: five stream twins over the same tables replayed as a
  * file source. The KG layers are idle here.
  */
object Catalog {

  /** The keys with per-layer figures. */
  val tracedKeys: Seq[String] = Seq(
    "q08_connected_components", "q16_lsh_pairs", "q17_ngram_jaccard", "q18_embed_neardup",
    "q26_neardup_clusters", "q35_boilerplate", "q37_neardup_collapsed", "q38_decontaminate",
    "q41_pii_scrub", "q52_paragraph_neardup", "kg_ann_ivf_all", "kg_ann_ivf_map")

  /** The catalog set: the traced keys plus one `ops.other` operator (the
    * multimodal header decode).
    */
  val keys: Seq[String] = tracedKeys :+ "q20_multimodal"

  def layer(key: String): String = key match {
    case "q08_connected_components"                                 => "Events"
    case "kg_ann_ivf_all" | "kg_ann_ivf_map"                       => "Similarity"
    case "q35_boilerplate" | "q38_decontaminate" | "q41_pii_scrub" => "TextOps"
    case "q20_multimodal"                                           => "other"
    case _                                                          => "Dedup"
  }

  val streamFiles = 2

  final case class Input(
      sf: String, docsStream: String, eventsStream: String,
      shingles: Broadcast[Set[String]], dim: DataFrame)

  /** Write `df` as `files` parquet files of consecutive `key` ranges whose
    * modification times follow the key order, so a file source with one
    * file per trigger replays them in that order.
    */
  def writeOrdered(df: DataFrame, key: String, files: Int, dir: String): Unit = {
    df.repartitionByRange(files, col(key)).write.parquet(dir)
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    val t0 = System.currentTimeMillis() - 60000L
    parts.zipWithIndex.foreach { case (p, i) => Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + 1000L * i)) }
  }

  /** The events replay re-sends every 97th event inside the same file
    * (at-least-once delivery), so the stream dedup has work to do. Its
    * `ts` becomes a session-zone timestamp: sf0.1 stores it without a
    * zone, and a stream watermark needs one (the session zone is UTC, so
    * the values stay the same).
    */
  def eventsReplay(events: DataFrame): DataFrame = {
    val e = events.withColumn("ts", col("ts").cast("timestamp"))
    e.unionByName(e.filter(col("event_id") % 97 === 0))
  }

  /** Documents with an arrival time: 100 ms apart, so the whole replay
    * spans less than the 600 s near-dup watermark delay.
    */
  def docsReplay(docs: DataFrame): DataFrame =
    docs.withColumn("ts", timestamp_micros(lit(1704067200000000L) + col("doc_id") * 100000L))

  def setup(spark: SparkSession, o: Opts, dir: String): Input = {
    CatalogData.write(spark, o, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val events = spark.read.parquet(s"$dir/events.parquet")
    writeOrdered(docsReplay(docs), "doc_id", streamFiles, s"$dir-stream/docs")
    writeOrdered(eventsReplay(events), "event_id", streamFiles, s"$dir-stream/events")
    val shingles = StreamOps.benchmarkShingles(spark, docs.filter(col("doc_id") % 13 === 0))
    val dim = events.groupBy("user_id").agg(count(lit(1)).as("user_events")).cache()
    dim.count()
    Input(dir, s"$dir-stream/docs", s"$dir-stream/events", shingles, dim)
  }

  def release(in: Input): Unit = { in.shingles.destroy(); in.dim.unpersist(true) }

  /** The five stream twins, each paired with its batch operator on the
    * same data. A pair's frames are compared on `cols`.
    */
  def twins(spark: SparkSession, in: Input, docs: DataFrame, events: DataFrame)
      : Seq[(String, DataFrame, DataFrame, Seq[String])] = {
    val corpus = (d: DataFrame) => d.filter(col("doc_id") % 13 =!= 0)
    val bench = spark.read.parquet(s"${in.sf}/documents.parquet").filter(col("doc_id") % 13 === 0)
    Seq(
      ("filterPolicyStream",
        StreamOps.filterPolicyStream(spark, corpus(docs), in.shingles).toDF(),
        TextOps.filterPolicy(corpus(spark.read.parquet(s"${in.sf}/documents.parquet")), bench),
        Seq("doc_id", "keep", "lang", "n_tokens", "reason")),
      ("decontaminateStream",
        StreamOps.decontaminateStream(spark, corpus(docs), in.shingles).toDF(),
        TextOps.decontaminate(corpus(spark.read.parquet(s"${in.sf}/documents.parquet")), bench),
        Seq("contaminated", "doc_id", "n_hit_shingles")),
      ("enrichStream",
        StreamOps.enrichStream(events, in.dim, "user_id"),
        StreamOps.enrichStream(spark.read.parquet(in.eventsStream), in.dim, "user_id"),
        Seq("event_id", "event_type", "props", "ts", "user_events", "user_id", "value")),
      ("dedupStream",
        StreamOps.dedupStream(events),
        spark.read.parquet(in.eventsStream).dropDuplicates("event_id"),
        Seq("event_id", "event_type", "props", "ts", "user_id", "value")),
      ("nearDupStream",
        StreamOps.nearDupStream(docs.select("doc_id", "text", "ts"), bits = 60),
        spark.read.parquet(in.docsStream)
          .withColumn("simhash", TextOps.simhashExpr(col("text"), 60)).dropDuplicates("simhash"),
        Seq("simhash")))
  }

  def digestOn(df: DataFrame, cols: Seq[String]): Digest =
    Digest.of(df.select(cols.map(c => col(c).cast("string")): _*))

  def run(spark: SparkSession, o: Opts, ledger: Ledger, sessionS: Double, res: Result, spans: Spans): Unit = {
    val reps = if (o.tiny) 1 else 3
    val setups = (1 to reps).map { i =>
      val dir = if (i == reps) s"${o.work}/sf" else s"${o.work}/sf-$i"
      val (in, s) = Stats.seconds(Stats.phase(s"catalog setup $i")(setup(spark, o, dir)))
      if (i < reps) release(in)
      (in, s)
    }
    val in = setups.last._1
    res.put("setup_s", sessionS + Stats.median(setups.map(_._2)), "s")

    // warm-up pass, untimed, the queries side by side: dumps every output
    // for the DuckDB oracle check and records the digest every timed
    // repetition must match
    val out = s"${o.work}/out"
    val expected = Stats.phase("catalog dump pass") {
      Par.parallel(keys.map { k => () =>
        ledger.attempt(s"catalog $k dump") {
          val (df, obs) = Digest.observed(SparkEntry.queries(k)(spark, in.sf), s"dump.$k")
          df.write.mode("overwrite").parquet(s"$out/$k.parquet")
          k -> Digest.read(obs)
        }
      }).flatten.toMap
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v.replace("__OUT__", out))}" }
    Files.write(Paths.get(s"$out/oracle_sql.json"), oracles.mkString("{", ",", "}").getBytes(UTF_8))

    val probe = if (o.trace) Some(new Probe(spark)) else None
    def tagged[T](tag: String)(f: => T): T = probe.fold(f)(_.tagged(tag)(f))

    // batch twins of the stream leg, computed once
    val docsSchema = spark.read.parquet(in.docsStream).schema
    val eventsSchema = spark.read.parquet(in.eventsStream).schema
    def sources() = (
      spark.readStream.schema(docsSchema).option("maxFilesPerTrigger", 1).parquet(in.docsStream),
      spark.readStream.schema(eventsSchema).option("maxFilesPerTrigger", 1).parquet(in.eventsStream))
    val batchTwin = Stats.phase("catalog batch twins") {
      val (d, e) = sources()
      Par.parallel(twins(spark, in, d, e).map { case (name, _, batch, cols) => () => name -> digestOn(batch, cols) }).toMap
    }

    final case class Job(queryS: Map[String, Double], plans: Map[String, PlanFigures], streamS: Double,
                         stream: StreamFigures)
    val jobs = mutable.ArrayBuffer.empty[Job]
    val gc0 = Jvm.gcSeconds()
    val t0 = System.nanoTime()
    var j = 0
    while (j < 1 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val times = mutable.LinkedHashMap.empty[String, Double]
      val plans = mutable.LinkedHashMap.empty[String, PlanFigures]
      spans(s"catalog.pass.$j") {
        keys.foreach { k =>
          val mark = probe.map(_.plansSoFar).getOrElse(0)
          ledger.attempt(s"catalog $k rep $j") {
            // timed like the engine's own bench: building the query (which
            // may run eager sub-jobs) and its noop action
            val (obs, s) = spans(s"catalog.$k") {
              tagged(s"cat.$j.$k")(Stats.seconds {
                val query = SparkEntry.queries(k)(spark, in.sf)
                // the self-test's planted wrong output: one query of the
                // first timed pass loses a row
                val planted =
                  if (o.plant && j == 0 && k == keys.head) query.limit(math.max(0, expected(k).rows.toInt - 1))
                  else query
                val (df, obs) = Digest.observed(planted, s"rep$j.$k")
                Bench.materialize(df)
                obs
              })
            }
            val d = Digest.read(obs)
            if (ledger.check(s"catalog $k rep $j digest == warm-up", expected.get(k).contains(d),
                s"$d vs ${expected.get(k)}")) times(k) = s
            probe.foreach(p => plans(k) = p.plansSince(mark))
          }
        }
      }
      val leg = Stats.phase(s"catalog stream leg $j + compare")(spans(s"catalog.stream.$j") {
        tagged(s"cat.$j.stream")(streamLeg(spark, o, in, j, sources(), batchTwin, ledger))
      })
      System.err.println(s"[kgbench] catalog job $j: " +
        times.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ") + leg.fold("")(l => f" stream=${l._2}%.2f"))
      leg.filter(_ => times.size == keys.size).foreach { case (progress, streamS) =>
        jobs += Job(times.toMap, plans.toMap, streamS, StreamFigures.merge(progress))
      }
      j += 1
    }
    val gcPerJob = (Jvm.gcSeconds() - gc0) / j
    require(jobs.nonEmpty, "no catalog job completed without failure")
    val passS = Stats.median(jobs.map(_.queryS.values.sum).toSeq)
    val streamS = Stats.median(jobs.map(_.streamS).toSeq)
    val batches = jobs.flatMap(_.stream.batchSeconds).toSeq
    res.put("batch_s", passS, "s")
    res.put("stream_s", streamS, "s")
    res.put("microbatch_s_p50", Stats.median(batches), "s")
    System.err.println(f"[kgbench] catalog jobs: " +
      jobs.map(x => f"${x.queryS.values.sum}%.2f+${x.streamS}%.2f").mkString(" "))

    probe.foreach { p =>
      res.put("catalog_s", passS, "s")
      res.put("catalog_stream_s", streamS, "s")
      Seq("Dedup", "Similarity", "TextOps", "Events", "other").foreach { l =>
        res.put(s"ops.$l.busy_s",
          Stats.median(jobs.map(_.queryS.collect { case (k, s) if layer(k) == l => s }.sum).toSeq), "s")
      }
      val last = jobs.last
      val lastIdx = j - 1
      tracedKeys.foreach { k =>
        res.put(s"catalog.$k.s", Stats.median(jobs.map(_.queryS(k)).toSeq), "s")
        val pf = last.plans.getOrElse(k, PlanFigures(0L, 0L))
        res.put(s"catalog.$k.shuffle_bytes", pf.shuffleBytes.toDouble, "bytes")
        res.put(s"catalog.$k.spill_bytes", pf.spillBytes.toDouble, "bytes")
        res.put(s"catalog.$k.task_skew", p.figures(s"cat.$lastIdx.$k").skew, "ratio")
        res.put(s"catalog.$k.output_rows", expected.get(k).map(_.rows).getOrElse(0L).toDouble, "count")
      }
      val st = last.stream
      res.put("streaming.batches", st.batches, "count")
      res.put("streaming.addBatch_s", st.addBatchSeconds, "s")
      res.put("streaming.trigger_overhead_s", st.triggerOverheadSeconds, "s")
      res.put("streaming.rows_per_batch", st.rows.toDouble / math.max(1, st.batches), "count")
      val (shuffle, spill) = p.totals(s"cat.$lastIdx.")
      res.put("spark.shuffle_bytes", shuffle.toDouble, "bytes")
      res.put("spark.spill_bytes", spill.toDouble, "bytes")
      res.put("jvm.gc_s", gcPerJob, "s")
      p.stop()
    }
  }

  /** One stream leg: the five twins run side by side, as concurrent
    * queries of one session, each into a memory sink; afterwards, outside
    * the timing, each sink must equal its batch twin. Returns the
    * queries' progress and the leg's wall time, or None on a failure.
    */
  def streamLeg(
      spark: SparkSession, o: Opts, in: Input, rep: Int, src: (DataFrame, DataFrame),
      batchTwin: Map[String, Digest], ledger: Ledger): Option[(Seq[StreamFigures], Double)] = {
    val (docs, events) = src
    val legs = twins(spark, in, docs, events).map { case (name, stream, _, cols) =>
      (name, s"kgbench_${name}_$rep", stream, cols)
    }
    val (started, legS) = Stats.seconds {
      val queries = legs.map { case (name, sink, stream, _) =>
        ledger.attempt(s"catalog stream $name rep $rep start") {
          stream.writeStream.format("memory").queryName(sink).outputMode("append")
            .option("checkpointLocation", s"${o.work}/stream-ckpt/$sink").start()
        }
      }
      legs.zip(queries).map { case ((name, sink, _, cols), q) =>
        val figures = q.flatMap { q =>
          ledger.attempt(s"catalog stream $name rep $rep") {
            q.processAllAvailable()
            q.stop()
            StreamFigures.of(q.recentProgress.toSeq)
          }
        }
        (name, sink, cols, figures)
      }
    }
    val digests = Par.parallel(started.map { case (_, sink, cols, figures) =>
      () => figures.map(_ => scala.util.Try(digestOn(spark.table(sink), cols)))
    })
    val ok = started.zip(digests).map { case ((name, sink, _, _), d) =>
      spark.sql(s"DROP VIEW IF EXISTS $sink")
      // None: the stream query itself failed, already counted
      d.exists(t => ledger.attempt(s"catalog stream $name rep $rep compare")(t.get)
        .exists(d => ledger.check(s"catalog $name rep $rep == batch twin", d == batchTwin(name),
          s"$d vs ${batchTwin(name)}")))
    }.forall(identity)
    if (ok) Some((started.flatMap(_._4), legS)) else None
  }
}
