package kgbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM: `--workload kg|catalog`,
  * `--seed`, `--seconds`, `--trace 0|1`, `--cpus`, `--data <dir>`,
  * `--work <dir>`, `--out <file>`. Writes the host record, the failure
  * ledger and every metric it measured as JSON to `--out`; `run.py`
  * launches it and prints the result line.
  */
object Main {
  val workloads: Seq[String] = Seq("kg", "catalog")

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}")
    Files.createDirectories(Paths.get(o.work))
    val (spark, sessionS) = Stats.seconds(Stats.phase("session start")(Session.start(o)))
    val ledger = new Ledger
    val res = new Result
    val spans = new Spans(s"${o.workload}-${o.seed}-${System.currentTimeMillis()}")
    try {
      spans("workload." + o.workload) {
        o.workload match {
          case "kg"      => KgWorkload.run(spark, o, ledger, sessionS, res, spans)
          case "catalog" => Catalog.run(spark, o, ledger, sessionS, res, spans)
        }
      }
    } catch {
      case e: Throwable =>
        ledger.attempt("workload " + o.workload)(throw e)
        e.printStackTrace()
    }
    res.put("peak_rss_mb", Jvm.peakRssMb(), "MB")
    val host = Session.hostRecord(spark, o)
    Stats.phase("session stop")(spark.stop())

    val failures = ledger.failures.map(Json.str).mkString("[", ",", "]")
    val metrics = res.metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val json =
      s"""{"correct":${ledger.failed == 0},"attempted":${ledger.attempted},"failed":${ledger.failed},""" +
        s""""metrics":$metrics,"failures":$failures,"host":$host}"""
    Files.write(Paths.get(o.out), json.getBytes(UTF_8))
    if (o.trace) {
      val f = Paths.get(o.work, s"spans-${o.workload}-${o.seed}.jsonl")
      Files.write(f, spans.lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}
