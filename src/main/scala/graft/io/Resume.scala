package graft.io

import graft.core.Triple
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Resumable partitioned materialization with per-partition lineage +
  * counters (north rule: "resumable from per-partition checkpoints with
  * lineage and counter metrics written alongside each commit").
  *
  * Stand-in for Iceberg commits (no Iceberg jars ship in this sandbox):
  * the output is a parquet table partitioned by `repo`, plus a commit
  * MANIFEST (`_graft_commits/<repo>.json`) written atomically (temp file
  * + move) AFTER the partition's data lands. A partition is committed
  * iff its manifest entry exists, so a crash mid-write leaves at most
  * orphan data files that the next run overwrites (dynamic partition
  * overwrite), never a half-committed manifest — exactly Iceberg's
  * snapshot contract, one partition at a time.
  *
  * `resume` anti-joins the committed repo set and processes only the
  * remainder; `resume` after a complete run is a no-op.
  */
object Resume {

  final case class Commit(repo: String, rows: Long, distinctSubj: Long, ts: String)

  private def manifestDir(table: String) = Paths.get(table, "_graft_commits")

  /** Manifest file names are URL-encoded: repo ids are arbitrary strings
    * ("org/name", "a:b") that would otherwise escape the manifest dir or
    * diverge from the (separately percent-escaped) partition directory
    * names Spark writes.
    */
  private def enc(repo: String): String =
    java.net.URLEncoder.encode(repo, "UTF-8")
  private def dec(name: String): String =
    java.net.URLDecoder.decode(name, "UTF-8")

  /** JSON string escape for manifest bodies. Resume itself keys off the
    * (URL-encoded) file NAMES, but a repo id holding a quote, backslash,
    * or control char would otherwise make the manifest CONTENT invalid
    * JSON for any driver that parses it.
    */
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def committedRepos(table: String): Set[String] = {
    val dir = manifestDir(table)
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val stream = Files.list(dir) // close: holds a directory fd
      try
        stream.iterator().asScala
          .filter(_.toString.endsWith(".json"))
          .map(p => dec(p.getFileName.toString.stripSuffix(".json")))
          .toSet
      finally stream.close()
    }
  }

  /** Write all not-yet-committed repos of `triples` into `table` and
    * return the commits performed, sorted by repo (empty = nothing left
    * to do).
    *
    * One Spark write query per call, independent of repo count: the
    * committed set is excluded with a broadcast anti-join (the set is
    * bounded by repo count, not corpus size), the remainder is shuffled
    * once on `repo`, and a dynamic-partition-overwrite write lands it.
    * The manifest figures are counted inside that write's tasks: after
    * the hash shuffle all of a repo's rows sit in one task, which counts
    * its repos' rows and distinct non-null `drugSubj` (a set bounded by
    * the drug vocabulary, not the input) and reports them through a
    * per-call accumulator when its input is exhausted. Spark applies a
    * result task's accumulator update once per finished partition and
    * drops a failed attempt's, so the input is evaluated once and no
    * separate counting query runs.
    *
    * A null `repo` fails the call with an IllegalArgumentException from
    * inside the task, before that task writes a row; the aborted job
    * leaves neither a partition directory nor a manifest.
    *
    * Crash contract: a manifest entry is written atomically AFTER the
    * data job completes, so a crash mid-write leaves only orphan data
    * files in uncommitted partitions, which the next run's dynamic
    * overwrite replaces — never a half-committed manifest. Commit
    * granularity is per call; callers wanting finer units chunk the
    * input upstream.
    */
  def writeResumable(
      spark: SparkSession,
      triples: Dataset[Triple],
      table: String
  ): Seq[Commit] = {
    import spark.implicits._
    val done = committedRepos(table)
    val doneDf = spark.createDataset(done.toSeq).toDF("repo")
    val counters = spark.sparkContext.collectionAccumulator[(String, Long, Long)]
    val remaining = triples.toDF()
      .join(broadcast(doneDf), Seq("repo"), "left_anti")
      .repartition(col("repo"))
      .as[Triple]
      .mapPartitions(rows => counted(rows, counters))

    // dynamic partition overwrite as a PER-WRITE option, never session
    // conf: inside foreachBatch the frame is bound to a cloned
    // micro-batch session, where a conf set on the caller's session
    // does not apply — the old conf-juggling version silently fell back
    // to full-table overwrite there, wiping earlier repos' partitions
    // (caught by the StreamOpsSpec kg-stream e2e). The write option
    // takes precedence over session conf in all contexts.
    try
      remaining.write
        .mode(SaveMode.Overwrite) // dynamic: replaces only written repos
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("repo")
        .parquet(table)
    catch { // Spark wraps a task's exception in job- and write-abort errors
      case e: Exception =>
        throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case n: IllegalArgumentException if n.getMessage == NullRepo => n }
          .getOrElse(e)
    }

    val reports = counters.value.asScala.toSeq.sortBy(_._1)
    val repos = reports.map(_._1)
    if (repos.distinct.size != repos.size)
      throw new IllegalStateException("repos counted by more than one write task (distinct counts " +
        s"cannot be merged): ${repos.diff(repos.distinct).distinct.map(jsonStr).mkString(", ")}")
    if (reports.isEmpty) return Seq.empty

    Files.createDirectories(manifestDir(table))
    reports.map { case (repo, rows, distinctSubj) =>
      val commit = Commit(repo, rows, distinctSubj, java.time.Instant.now().toString)
      val json =
        s"""{"repo":${jsonStr(commit.repo)},"rows":${commit.rows},"distinct_subj":${commit.distinctSubj},"ts":${jsonStr(commit.ts)}}"""
      val tmp = manifestDir(table).resolve(s".${enc(repo)}.json.tmp")
      Files.write(tmp, json.getBytes("UTF-8"))
      Files.move(tmp, manifestDir(table).resolve(s"${enc(repo)}.json"),
        StandardCopyOption.ATOMIC_MOVE)
      commit
    }
  }

  private val NullRepo = "column `repo` must not be null: a triple without a repo has no partition to commit"

  /** Pass `rows` through unchanged, counting rows and distinct non-null
    * `drugSubj` per repo; the counts go to `counters` once the input is
    * exhausted.
    */
  private def counted(
      rows: Iterator[Triple],
      counters: CollectionAccumulator[(String, Long, Long)]
  ): Iterator[Triple] = new Iterator[Triple] {
    private val rowsOf = mutable.HashMap.empty[String, Long]
    private val subjOf = mutable.HashMap.empty[String, mutable.HashSet[String]]
    private var reported = false
    def hasNext: Boolean = {
      val more = rows.hasNext
      if (!more && !reported) {
        reported = true
        rowsOf.foreach { case (repo, n) => counters.add((repo, n, subjOf(repo).size.toLong)) }
      }
      more
    }
    def next(): Triple = {
      val t = rows.next()
      if (t.repo == null) throw new IllegalArgumentException(NullRepo)
      rowsOf(t.repo) = rowsOf.getOrElse(t.repo, 0L) + 1
      val subj = subjOf.getOrElseUpdate(t.repo, mutable.HashSet.empty)
      if (t.drugSubj != null) subj += t.drugSubj
      t
    }
  }

  /** Read the committed table back. Partition discovery over the whole
    * table recovers the `repo` column (Spark unescapes the percent-
    * encoded directory names itself — building `repo=<raw>` paths by
    * hand would break for repos with reserved characters), then the
    * committed-set filter prunes uncommitted orphan partitions before
    * any of their files are opened — the Iceberg snapshot-read contract.
    * `_graft_commits` is invisible to the scan (underscore prefix).
    */
  def read(spark: SparkSession, table: String): Dataset[Triple] = {
    import spark.implicits._
    val repos = committedRepos(table).toSeq.sorted
    if (repos.isEmpty) spark.emptyDataset[Triple]
    else
      spark.read
        // explicit schema: no footer sampling at planning time, so a
        // torn file inside an uncommitted orphan partition can never
        // fail the read of the committed snapshot
        .schema(org.apache.spark.sql.Encoders.product[Triple].schema)
        .parquet(table)
        .filter(col("repo").isin(repos: _*))
        .as[Triple]
  }
}
