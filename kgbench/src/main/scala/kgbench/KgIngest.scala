package kgbench

import graft.core.{ParsedSentence, Triple}
import graft.fixtures.DocGen
import graft.io.Resume
import graft.pipeline.Pipeline
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The stream leg of workload `kg`: the scoring layers used the other
  * way round. The job fits from scratch on the train corpus, replays an
  * eval corpus as a file-source stream of one file per repo (one
  * micro-batch each), commits every batch through `Resume.writeResumable`
  * in `foreachBatch`, and reads the committed table back. A scoring gain
  * that adds per-batch, per-broadcast or per-write cost shows here.
  */
object KgIngest {

  final case class Input(train: Dataset[ParsedSentence], docs: DataFrame, srcDir: String, nDocs: Long)

  final case class Job(
      ingestS: Double, streamS: Double, fit: FitTimes, models: Pipeline.Models,
      table: String, commits: Seq[Resume.Commit], writeS: Double, readS: Double,
      readRows: Long, stream: StreamFigures)

  /** (eval docs, repos). The repo count is prime, so DocGen's repo
    * assignment reaches every repo; each repo becomes one micro-batch.
    */
  def sizes(o: Opts): (Long, Int) = if (o.tiny) (600L, 11) else (3000L, 13)

  /** Set-up: generate the eval corpus and write it as one parquet file
    * per repo.
    */
  def setup(spark: SparkSession, o: Opts, train: Dataset[ParsedSentence], rep: Int): Input = {
    val (nEval, nRepos) = sizes(o)
    val docs = DocGen.corpus(spark, nEval, seed = o.seed * 17 + 3, nRepos = nRepos).cache()
    val nDocs = docs.count()
    val staging = s"${o.work}/ingest/staging-$rep"
    docs.withColumn("repo_file", col("repo"))
      .repartition(col("repo_file"))
      .write.partitionBy("repo_file").parquet(staging)
    val srcDir = Paths.get(s"${o.work}/ingest/src-$rep")
    Files.createDirectories(srcDir)
    val parts = Files.walk(Paths.get(staging)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
    parts.foreach { p =>
      val repo = p.getParent.getFileName.toString.stripPrefix("repo_file=")
      Files.move(p, srcDir.resolve(s"$repo.parquet"))
    }
    Input(train, docs, srcDir.toString, nDocs)
  }

  def release(in: Input): Unit = in.docs.unpersist(true)

  def start(spark: SparkSession, in: Input, models: org.apache.spark.broadcast.Broadcast[Pipeline.Models],
            ckpt: String, perFile: Boolean)(sink: Dataset[Triple] => Unit) = {
    import spark.implicits._
    val reader = spark.readStream.schema(in.docs.schema)
    val src = (if (perFile) reader.option("maxFilesPerTrigger", 1) else reader).parquet(in.srcDir)
    StreamOps.scoreStream(spark, src, models)
      .flatMap(_.triples)
      .writeStream
      .foreachBatch((b: Dataset[Triple], _: Long) => sink(b))
      .option("checkpointLocation", ckpt)
      .start()
  }

  def job(spark: SparkSession, o: Opts, in: Input, i: Int): Job = {
    val table = s"${o.work}/ingest/table-$i"
    val t0 = System.nanoTime()
    val (models, fit) = Kg.fit(spark, in.train)
    val b = spark.sparkContext.broadcast(models)
    val commits = mutable.ArrayBuffer.empty[Resume.Commit]
    var writeS = 0.0
    val t1 = System.nanoTime()
    val q = start(spark, in, b, s"${o.work}/ingest/ckpt-$i", perFile = true) { batch =>
      val (c, s) = Stats.seconds(Resume.writeResumable(spark, batch, table))
      commits ++= c
      writeS += s
    }
    q.processAllAvailable()
    val streamS = (System.nanoTime() - t1) / 1e9
    q.stop()
    val (rows, readS) = Stats.seconds(Resume.read(spark, table).count())
    val ingestS = (System.nanoTime() - t0) / 1e9
    b.destroy()
    Job(ingestS, streamS, fit, models, table, commits.toSeq, writeS, readS, rows,
      StreamFigures.of(q.recentProgress.toSeq))
  }

  def leg(spark: SparkSession, o: Opts, in: Input, ledger: Ledger, res: Result, spans: Spans,
          probe: Option[Probe]): Unit = {
    val gc0 = Jvm.gcSeconds()
    val t0 = System.nanoTime()
    val jobs = mutable.ArrayBuffer.empty[Job]
    var i = 0
    while (i < 1 || (System.nanoTime() - t0) / 1e9 < o.seconds / 2) {
      val body = () => ledger.attempt(s"kg ingest job $i")(Stats.phase(s"kg ingest job $i")(job(spark, o, in, i)))
      val j = spans(s"kg.ingest.job.$i")(probe.fold(body())(_.tagged(s"ingest.$i")(body())))
      j.foreach { j =>
        val ok = ledger.check(s"kg ingest job $i read-back rows == committed rows",
          j.readRows == j.commits.map(_.rows).sum, s"${j.readRows} vs ${j.commits.map(_.rows).sum}")
        if (ok) jobs += j
      }
      i += 1
    }
    val gcPerJob = (Jvm.gcSeconds() - gc0) / i
    require(jobs.nonEmpty, "every kg ingest job failed")
    val last = jobs.last
    Stats.phase("kg ingest correctness")(check(spark, o, in, last, ledger))

    val ingestS = Stats.median(jobs.map(_.ingestS).toSeq)
    val docsPerS = Stats.median(jobs.map(j => in.nDocs / j.streamS).toSeq)
    val batches = jobs.flatMap(_.stream.batchSeconds).toSeq
    res.put("stream_s", ingestS, "s")
    res.put("microbatch_s_p50", Stats.median(batches), "s")
    System.err.println(f"[kgbench] kg ingest jobs (total = fit + stream + read-back): " +
      jobs.map(j => f"${j.ingestS}%.2f = ${j.fit.nerTrain + j.fit.ddiFit + j.fit.canonicalMap}%.2f + " +
        f"${j.streamS}%.2f + ${j.readS}%.2f").mkString("; ") + s"; ${last.stream.batches} batches: " +
      last.stream.batchSeconds.mkString(" "))

    probe.foreach { p =>
      val st = last.stream
      res.put("ingest_s", ingestS, "s")
      res.put("ingest_docs_per_s", docsPerS, "1/s")
      res.put("ingest_batch_s_p50", Stats.median(batches), "s")
      res.put("ingest_batch_s_p90", Stats.quantile(batches, 0.9), "s")
      res.put("ner.Train.fit_s", last.fit.nerTrain, "s")
      res.put("ddi.Relations.fit_s", last.fit.ddiFit, "s")
      res.put("kg.Canonicalize.canonicalMap_s", last.fit.canonicalMap, "s")
      res.put("streaming.batches", st.batches, "count")
      res.put("streaming.addBatch_s", st.addBatchSeconds, "s")
      res.put("streaming.trigger_overhead_s", st.triggerOverheadSeconds, "s")
      res.put("streaming.rows_per_batch", st.rows.toDouble / math.max(1, st.batches), "count")
      val bytes = tableBytes(last.table)
      res.put("io.Resume.write_s", last.writeS, "s")
      res.put("io.Resume.read_s", last.readS, "s")
      res.put("io.Resume.commits", last.commits.length, "count")
      res.put("io.Resume.bytes_written", bytes.toDouble, "bytes")
      res.put("io.Resume.bytes_per_triple", bytes.toDouble / math.max(1L, last.readRows), "bytes")
      // the leg's own shuffle, spill and GC join the batch leg's figures
      val (shuffle, spill) = p.totals(s"ingest.${i - 1}")
      res.add("spark.shuffle_bytes", shuffle.toDouble, "bytes")
      res.add("spark.spill_bytes", spill.toDouble, "bytes")
      res.add("jvm.gc_s", gcPerJob, "s")
    }
  }

  /** Bytes of the committed table: data files and commit manifests. */
  def tableBytes(table: String): Long =
    Files.walk(Paths.get(table)).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size(_)).sum

  /** Correctness, outside the timed jobs: the read-back table equals the
    * batch `Pipeline.score` triples on the same docs and models, by digest
    * and by per-repo commit rows; replaying the same files against a fresh
    * checkpoint commits nothing (the resume contract).
    */
  def check(spark: SparkSession, o: Opts, in: Input, j: Job, ledger: Ledger): Unit = {
    import spark.implicits._
    ledger.attempt("kg ingest correctness") {
      val b = spark.sparkContext.broadcast(j.models)
      val batch = Pipeline.score(spark, Pipeline.parse(spark, in.docs), b).flatMap(_.triples).toDF().cache()
      val readBack = Resume.read(spark, j.table).toDF()
      val before = Digest.of(readBack)
      ledger.check("kg ingest read-back == batch Pipeline.score triples",
        before == Digest.of(batch), s"$before vs ${Digest.of(batch)}")
      val perRepo = batch.groupBy("repo").count().as[(String, Long)].collect().toMap
      val committed = j.commits.groupBy(_.repo).map { case (r, cs) => r -> cs.map(_.rows).sum }
      ledger.check("kg ingest one commit per repo", j.commits.map(_.repo).distinct.length == j.commits.length)
      ledger.check("kg ingest per-repo commit rows == batch triples per repo",
        committed == perRepo, s"${committed.size} committed repos vs ${perRepo.size} batch repos")

      val replayed = mutable.ArrayBuffer.empty[Resume.Commit]
      val q = start(spark, in, b, s"${o.work}/ingest/ckpt-replay", perFile = false) { batch =>
        replayed ++= Resume.writeResumable(spark, batch, j.table)
      }
      q.processAllAvailable()
      q.stop()
      ledger.check("kg ingest replay commits nothing", replayed.isEmpty, s"${replayed.length} commits")
      ledger.check("kg ingest replay leaves the table unchanged",
        Digest.of(Resume.read(spark, j.table).toDF()) == before)
      batch.unpersist()
      b.destroy()
    }
  }
}
