package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run inside one JVM.
  *
  * Sets up a SparkSession once (session with GraftExtensions,
  * `Graft.register`, one warm-up query on the small warm-up tables), runs
  * each query once on the warm-up tables (except the `cold` ones), then runs
  * whole rounds of the given contract queries until `seconds` have passed.
  * Every query is timed from building its DataFrame to having written its
  * result as parquet, with the kernel memos cleared before it. With trace=1
  * a [[Tracer]] records spans and Spark metrics per query, and direct calls
  * into graft's codecs and CRS transform are timed after the rounds.
  *
  * Arguments are key=value pairs: data, warm, out, tmp, queries (comma
  * list), probes (comma list, may be empty: queries run on the warm-up tables
  * after each round's own queries), cold (comma list, may be empty: queries
  * the warm-up pass leaves out), seconds, trace, cores, result.
  * The result is one JSON file; the caller checks the written outputs and
  * derives the metrics. A failure outside a query exits with code 1.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    try run(argv, mainMs)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    // some contract queries leave non-daemon threads (q_http_read's server)
    sys.exit(0)
  }

  private def list(s: String): Seq[String] = s.split(',').toSeq.filter(_.nonEmpty)

  private def run(argv: Array[String], mainMs: Long): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cores = a("cores").toInt
    val queries = list(a("queries")).map(_ -> a("data")) ++ list(a("probes")).map(_ -> a("warm"))
    val cold = list(a("cold")).toSet
    val trace = a("trace") == "1"
    val contract = graft.SparkEntry.queries
    queries.foreach { case (q, _) => require(contract.contains(q), s"unknown query $q") }
    val json = new Json
    val tmp = a("tmp")
    def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    // --- set-up; its end is reported as a wall-clock instant so the caller
    // can measure it from process launch
    var t0 = System.nanoTime()
    val spark = session(cores, tmp)
    val sessionS = elapsed(t0)
    t0 = System.nanoTime()
    graft.Graft.register(spark)
    val registerS = elapsed(t0)
    t0 = System.nanoTime()
    contract("q_point_xy")(spark, a("warm")).write.mode("overwrite").parquet(s"$tmp/warmup")
    val firstQueryS = elapsed(t0)
    val setupEnd = System.currentTimeMillis()

    t0 = System.nanoTime()
    // warm-up pass: each query once on the warm-up tables, so the timed
    // rounds do not pay its first code generation and JIT compilation, which
    // a batch pays once per JVM and not once per query
    val warmErrors = queries.filterNot { case (q, _) => cold(q) }.flatMap { case (q, _) =>
      try {
        contract(q)(spark, a("warm")).write.mode("overwrite").parquet(s"$tmp/warmup-$q")
        None
      } catch { case e: Throwable => Some(q -> json.str(s"${e.getClass.getName}: ${e.getMessage}")) }
    }
    graft.Graft.clearKernelMemos()
    val warmupS = elapsed(t0)

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // --- whole rounds until the time is up
    val rounds = mutable.ArrayBuffer[String]()
    val tEnd = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    var round = 0
    while (round == 0 || System.nanoTime() < tEnd) {
      round += 1
      val cpu0 = os.getProcessCpuTime
      val wall0 = System.nanoTime()
      val rows = queries.map { case (q, dir) =>
        graft.Graft.clearKernelMemos()
        tracer.foreach(_.begin(q, round))
        val t0 = System.nanoTime()
        var construct = 0.0
        val err =
          try {
            val df: DataFrame = contract(q)(spark, dir)
            construct = elapsed(t0)
            tracer.foreach(_.constructed(df))
            df.write.mode("overwrite").parquet(s"${a("out")}/r$round/$q")
            null
          } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
        val secs = elapsed(t0)
        val traced = tracer.map(_.end()).getOrElse("null")
        json.obj("name" -> json.str(q), "s" -> json.num(secs),
          "construct_s" -> json.num(construct),
          "error" -> (if (err == null) "null" else json.str(err)), "trace" -> traced)
      }
      val wall = elapsed(wall0)
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      rounds += json.obj("wall_s" -> json.num(wall), "cpu_s" -> json.num(cpu),
        "queries" -> json.arr(rows))
    }

    val micro = if (trace) Micro.run(spark, a("data")) else "null"
    tracer.foreach(t => Files.writeString(Paths.get(a("result") + ".spans"), t.spansJson()))
    Files.writeString(Paths.get(a("result")), json.obj(
      "cores" -> cores.toString,
      "main_ms" -> mainMs.toString,
      "setup_end_ms" -> setupEnd.toString,
      "setup" -> json.obj("session_s" -> json.num(sessionS),
        "register_s" -> json.num(registerS), "first_query_s" -> json.num(firstQueryS)),
      "warmup_s" -> json.num(warmupS),
      "warmup_errors" -> json.obj(warmErrors: _*),
      "rounds" -> json.arr(rounds),
      "oracle" -> json.obj(queries.map { case (q, dir) => q -> json.str(
        graft.SparkEntry.oracleSql(q).replace("__SFTAG__", graft.SparkEntry.fixtureTag(dir)))
      }: _*),
      "micro" -> micro))
    spark.stop()
  }

  def session(cores: Int, tmp: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Minimal JSON writer: the harness emits numbers, strings, arrays, objects. */
final class Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(l: Long): String = l.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
