package graft.io

import graft.TestSpark
import graft.core.{FeatureRow, Mention, Triple}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class IoSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val rows = Seq(
    FeatureRow("D.s0", "Warfarin", 0, 7, "B-drug",
      Vector("form=Warfarin", "suf3=rin", "BoS", "formNext=.", "suf3Next=.")),
    FeatureRow("D.s0", ".", 8, 8, "O",
      Vector("form=.", "suf3=.", "formPrev=Warfarin", "suf3Prev=rin", "EoS"))
  )

  test("feat file: exact reference TSV bytes incl. blank-line framing") {
    val expect =
      "D.s0\tWarfarin\t0\t7\tB-drug\tform=Warfarin\tsuf3=rin\tBoS\tformNext=.\tsuf3Next=.\n" +
        "D.s0\t.\t8\t8\tO\tform=.\tsuf3=.\tformPrev=Warfarin\tsuf3Prev=rin\tEoS\n" +
        "\n"
    assert(FeatFile.formatSentences(Seq(rows)) == expect)
  }

  test("feat file: parse is the inverse of format") {
    rows.foreach(r => assert(FeatFile.parseRow(FeatFile.formatRow(r)) == r))
  }

  test("feat file: distributed read round-trips") {
    val dir = Files.createTempDirectory("feat").toString
    val path = s"$dir/corpus.feat"
    Files.writeString(java.nio.file.Paths.get(path), FeatFile.formatSentences(Seq(rows)))
    val back = FeatFile.read(spark, path).collect().sortBy(_.start)
    assert(back.toSeq == rows)
  }

  test("pred file: format/parse round-trip incl. -1 offsets and '|' in text") {
    val ms = Seq(
      Mention("D.s0", 0, 7, "Warfarin", "drug"),
      Mention("D.s1", -1, 0, "``", "drug_n"),
      Mention("D.s2", 3, 9, "a|b", "group")
    )
    ms.foreach { m =>
      assert(PredFile.parseMention(PredFile.formatLine(m)) == m)
      val (key, cls) = PredFile.parseLine(PredFile.formatLine(m))
      assert(cls == m.etype)
      assert(key == s"${m.sid}|${m.start}-${m.end}|${m.text}")
    }
  }

  test("resume: partial write + resume completes; re-resume is a no-op") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    def trips(repos: String*) = spark.createDataset(
      repos.flatMap(r => (1 to 5).map(i => Triple(s"drug$i", "int", "obj", s"$r.s$i", "e1", "e2", r)))
    )
    // first run: only repo-a and repo-b "arrive"
    val c1 = Resume.writeResumable(spark, trips("repo-a", "repo-b"), table)
    assert(c1.map(_.repo) == Seq("repo-a", "repo-b"))
    assert(c1.forall(_.rows == 5))
    // resume with the full input: only repo-c is new work
    val c2 = Resume.writeResumable(spark, trips("repo-a", "repo-b", "repo-c"), table)
    assert(c2.map(_.repo) == Seq("repo-c"))
    // a third resume does nothing: no commit, same snapshot, same manifests
    val manifestDir = java.nio.file.Paths.get(table, "_graft_commits")
    def manifests = {
      val ls = Files.list(manifestDir)
      try ls.iterator().asScala.map(p => p.getFileName.toString -> Files.readString(p)).toMap
      finally ls.close()
    }
    val (readBefore, manifestsBefore) = (Resume.read(spark, table).collect().sortBy(_.sid).toSeq, manifests)
    assert(Resume.writeResumable(spark, trips("repo-a", "repo-b", "repo-c"), table).isEmpty)
    assert(Resume.read(spark, table).collect().sortBy(_.sid).toSeq == readBefore)
    assert(manifests == manifestsBefore)
    // the table reads back complete and correct
    val back = Resume.read(spark, table)
    assert(back.count() == 15)
    assert(back.map(_.repo).distinct().collect().sorted.toSeq == Seq("repo-a", "repo-b", "repo-c"))
  }

  test("resume: repo ids with reserved path characters round-trip") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val weird = Seq("org/name", "a:b=c", "pct%20enc")
    val trips = spark.createDataset(
      weird.flatMap(r => (1 to 2).map(i => Triple(s"d$i", "int", "o", s"$r.s$i", "e1", "e2", r))))
    val c = Resume.writeResumable(spark, trips, table)
    assert(c.map(_.repo).sorted == weird.sorted)
    assert(Resume.committedRepos(table) == weird.toSet)
    val back = Resume.read(spark, table)
    assert(back.count() == 6)
    assert(back.map(_.repo).distinct().collect().sorted.toSeq == weird.sorted)
    // re-resume is still a no-op with the escaped names
    assert(Resume.writeResumable(spark, trips, table).isEmpty)
  }

  test("resume: manifest BODY is valid JSON for repo ids with quotes/backslashes/control chars") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val weird = Seq("""quo"ted""", """back\slash""", "tab\tchar")
    val trips = spark.createDataset(
      weird.flatMap(r => (1 to 2).map(i => Triple(s"d$i", "int", "o", s"s$i", "e1", "e2", r))))
    val commits = Resume.writeResumable(spark, trips, table)
    assert(commits.map(_.repo).sorted == weird.sorted)
    // every manifest body must PARSE as JSON with the raw repo id inside
    // (filenames are URL-encoded; the body used to interpolate raw)
    val parsed = spark.read
      .json(java.nio.file.Paths.get(table, "_graft_commits").toString + "/*.json")
      .select("repo", "rows").as[(String, Long)].collect()
    assert(parsed.map(_._1).sorted.toSeq == weird.sorted)
    assert(parsed.forall(_._2 == 2L))
    assert(spark.read.json(
      java.nio.file.Paths.get(table, "_graft_commits").toString + "/*.json")
      .columns.toSet.contains("_corrupt_record") == false, "manifest failed to parse as JSON")
  }

  test("resume: orphan partition data without a manifest stays invisible, then heals") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    def trips(repos: String*) = spark.createDataset(
      repos.flatMap(r => (1 to 5).map(i => Triple(s"drug$i", "int", "obj", s"$r.s$i", "e1", "e2", r)))
    )
    Resume.writeResumable(spark, trips("repo-a"), table)
    // simulate a crash mid-write of repo-b: partition dir exists, no manifest
    trips("repo-b").toDF().drop("repo").write.parquet(s"$table/repo=repo-b")
    assert(Resume.read(spark, table).map(_.repo).distinct().collect().toSeq == Seq("repo-a"),
      "uncommitted orphan partition must be invisible to readers")
    // the next resumable run overwrites the orphan and commits it
    val c = Resume.writeResumable(spark, trips("repo-a", "repo-b"), table)
    assert(c.map(_.repo) == Seq("repo-b") && c.head.rows == 5)
    assert(Resume.read(spark, table).count() == 10)
  }

  private def tree(table: String): Seq[String] = {
    val root = java.nio.file.Paths.get(table)
    if (!Files.exists(root)) Seq.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.map(p => root.relativize(p).toString).toSeq.sorted
      finally walk.close()
    }
  }

  test("resume: a null repo is rejected before any partition directory or manifest lands") {
    import spark.implicits._
    def trip(repo: String, i: Int) = Triple(s"d$i", "int", "o", s"s$i", "e1", "e2", repo)
    val shapes = Seq(
      "null repo only" -> (1 to 3).map(trip(null, _)),
      "null repo plus repo-a" -> ((1 to 3).map(trip(null, _)) ++ (1 to 4).map(trip("repo-a", _))))
    shapes.foreach { case (shape, rows) =>
      val table = Files.createTempDirectory("kg").toString + "/triples"
      val e = intercept[IllegalArgumentException](
        Resume.writeResumable(spark, spark.createDataset(rows), table))
      assert(e.getMessage.contains("`repo`"), s"$shape: ${e.getMessage}")
      assert(Resume.committedRepos(table).isEmpty, shape)
      assert(!Files.exists(java.nio.file.Paths.get(table, "_graft_commits")), s"$shape: manifest dir written")
      assert(!tree(table).exists(_.contains("__HIVE_DEFAULT_PARTITION__")), s"$shape: ${tree(table)}")
      assert(!tree(table).exists(_.startsWith("repo=")), s"$shape: ${tree(table)}")
      // without the null rows the same table commits normally
      val c = Resume.writeResumable(spark, spark.createDataset(rows.filter(_.repo != null)), table)
      assert(c.map(r => (r.repo, r.rows)) == rows.filter(_.repo != null).groupBy(_.repo)
        .map { case (r, ts) => (r, ts.size.toLong) }.toSeq, shape)
    }
  }

  test("resume: one call evaluates each input row once") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val rows = Seq("repo-a", "repo-b", "repo-c").flatMap(r =>
      (1 to 7).map(i => Triple(s"drug$i", "int", "obj", s"$r.s$i", "e1", "e2", r)))
    val evals = spark.sparkContext.longAccumulator("evals")
    val in = spark.createDataset(rows).map { t => evals.add(1); t }
    val c = Resume.writeResumable(spark, in, table)
    assert(c.map(_.rows).sum == rows.size)
    assert(evals.sum == rows.size, s"${evals.sum} evaluations of ${rows.size} rows")
  }

  test("resume: commit rows and distinctSubj equal a groupBy oracle, in the result and the manifests") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val rnd = new scala.util.Random(7)
    val subjects = Seq(null, "warfarin", "aspirin", "Aspirin", "heparin", "ibuprofen")
    val rows = (0 until 600).map { i =>
      val repo = s"repo-${rnd.nextInt(11)}"
      Triple(subjects(rnd.nextInt(subjects.size)), "int", "obj", s"$repo.s$i", "e1", "e2", repo)
    }
    val in = spark.sparkContext.parallelize(rows, 9).toDS()
    assert(in.rdd.getNumPartitions >= 8)
    val oracle = in.groupBy("repo")
      .agg(count(lit(1)), count_distinct(col("drugSubj")))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val c = Resume.writeResumable(spark, in, table)
    assert(c.map(x => (x.repo, x.rows, x.distinctSubj)) == oracle)
    assert(rows.exists(_.drugSubj == null) && oracle.forall { case (_, n, d) => d < n })
    val manifests = spark.read
      .json(java.nio.file.Paths.get(table, "_graft_commits").toString + "/*.json")
      .select("repo", "rows", "distinct_subj").as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(manifests == oracle)
  }

  test("codemaps: sorted deterministic ids, PAD=0/UNK=1, idx round-trip") {
    import spark.implicits._
    val sents = spark.createDataset(Seq(
      graft.core.ParsedSentence("r", "d", "s0", "Warfarin interacts.",
        Seq(graft.core.GoldSpan("e0", 0, 7, "drug", "Warfarin", "0-7")), Nil)
    ))
    val cm = graft.ner.Codemaps.build(spark, sents, maxlen = 5, suflen = 5)
    // words sorted: '.', 'interacts', 'warfarin' -> ids 2,3,4
    assert(cm.wordIndex == Map("." -> 2, "interacts" -> 3, "warfarin" -> 4))
    assert(cm.labelIndex.keySet == Set("B-drug", "O"))
    assert(cm.encodeWords(Seq("Warfarin", "unknown")).toSeq == Seq(4, 1, 0, 0, 0))
    val p = Files.createTempDirectory("cm").resolve("m.idx").toString
    cm.save(p)
    assert(graft.ner.Codemaps.load(p) == cm)
  }
}
