package kgbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Command-line options of one benchmark run. `size` is `full` for the
  * measured runs and `tiny` for the self-test; `plant` makes one timed
  * repetition produce a wrong output on purpose (self-test only); `data`
  * is the benchmark's directory of read-only input tables.
  */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    work: String,
    out: String,
    size: String,
    plant: Boolean,
    data: String
) {
  def tiny: Boolean = size == "tiny"
  def eventsFile: String = s"$data/events.parquet"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k"); k.drop(2) -> v
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      cpus = get("cpus").toInt,
      work = get("work"),
      out = get("out"),
      size = m.getOrElse("size", "full"),
      plant = m.getOrElse("plant", "0") == "1",
      data = get("data"))
    require(Set("full", "tiny")(o.size), s"--size must be full or tiny, got ${o.size}")
    o
  }
}

/** Failure accounting. Every operation the benchmark attempts goes
  * through here; a throw, a digest or oracle mismatch, or a commit
  * mismatch counts as a failure, and the caller drops its timing.
  */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def attempt[T](what: String)(f: => T): Option[T] = {
    count()
    try Some(f)
    catch {
      case e: Throwable =>
        record(what, e.toString)
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    count()
    if (!ok) record(what, detail)
    ok
  }

  // attempts may run on several threads (the untimed passes)
  private def count(): Unit = synchronized(attempted += 1)

  private def record(what: String, detail: String): Unit = synchronized {
    failed += 1
    failures += s"$what: $detail"
    System.err.println(s"[kgbench] FAILED $what: $detail")
  }
}

object Par {
  /** Runs independent Spark actions side by side (untimed passes only). */
  def parallel[T](fs: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(fs.map(f => Future(f()))), Duration.Inf)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the default of numpy and R type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private val t0 = System.nanoTime()

  /** Times `f` and logs the phase to stderr with the run's clock. */
  def phase[T](name: String)(f: => T): T = {
    val (r, s) = seconds(f)
    System.err.println(f"[kgbench] ${(System.nanoTime() - t0) / 1e9}%7.2f $name: $s%.2f s")
    r
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Order-independent content digest of a frame: row count plus the sums
  * of the low and high 32 bits of each row's xxhash64. Equal multisets
  * of rows give equal digests; the split sums cannot overflow a long.
  */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"$rows/$lo/$hi"
}

object Digest {
  def columns(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*)
    Seq(
      count(lit(1)).as("dg_rows"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("dg_lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("dg_hi"))
  }

  def of(df: DataFrame): Digest = {
    val cols = columns(df)
    val r = df.agg(cols.head, cols.tail: _*).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The frame with a digest observation attached: the digest arrives
    * with whatever action runs the frame, at the cost of one hash per row.
    */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val cols = columns(df)
    (df.observe(obs, cols.head, cols.tail: _*), obs)
  }

  def read(obs: Observation): Digest = {
    val m = obs.get
    Digest(m("dg_rows").asInstanceOf[Long], m("dg_lo").asInstanceOf[Long], m("dg_hi").asInstanceOf[Long])
  }
}

/** Process-level figures: peak resident memory and JVM GC time. */
object Jvm {
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try {
      val kb = src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble
      }
      kb.getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status")) / 1024.0
    } finally src.close()
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }
}

object Session {
  def start(o: Opts): SparkSession = {
    val nproc = Runtime.getRuntime.availableProcessors()
    require(o.cpus >= 1 && o.cpus <= nproc,
      s"refusing local[${o.cpus}]: this host has $nproc processors")
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"kgbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop-tmp")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** nproc, JVM, Spark version, Spark conf and seed: printed with every result. */
  def hostRecord(spark: SparkSession, o: Opts): String = {
    val conf = spark.sparkContext.getConf.getAll
      .filterNot { case (k, _) => k == "spark.app.id" || k == "spark.app.startTime" || k.startsWith("spark.driver.") }
      .sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    val fields = Seq(
      "workload" -> Json.str(o.workload),
      "seed" -> o.seed.toString,
      "size" -> Json.str(o.size),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "local_cpus" -> o.cpus.toString,
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "spark_conf" -> conf)
    fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalArgumentException(s"non-finite metric $v")
    else java.lang.Double.toString(v)
}

/** What a workload hands back: the metrics it measured, by name with
  * their unit. `run.py` picks the ones `BENCHMARK.json` asks for.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def add(name: String, value: Double, unit: String): Unit =
    put(name, metrics.get(name).map(_._1).getOrElse(0.0) + value, unit)
}
