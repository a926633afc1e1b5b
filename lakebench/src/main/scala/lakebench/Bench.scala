package lakebench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.cli.Main

/** The repository benchmark. Drives the engine only through its public
  * entry points (`graft.cli.Main.run` and the public functions of its
  * modules) from one client thread, on inputs made by [[Gen]] from the
  * seed. Workloads: `medallion` and `curate` (see README.md).
  *
  * Writes the result object to `--out`, and the run's record (stamps,
  * input properties, raw samples, and with `--trace 1` the ledger and
  * spans) to `--records`. */
object Bench {

  // ---- sizes -----------------------------------------------------------------
  val UttsPerEpisode = 700
  val MedallionEpisodes = 8
  val WarmupRounds = 4
  val CurateApplyDocs = 3800
  val CurateDeltaDocs = 480
  val CurateDeltas = 1
  val K = 10
  val IvfProbes = 4
  val HnswEf = 64

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, out: File, records: File, role: String, extra: Map[String, String])

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(kv.getOrElse("workload", ""), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      new File(need("work")), new File(need("out")),
      new File(kv.getOrElse("records", need("work"))), kv.getOrElse("role", "run"), kv)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.work.mkdirs(); o.records.mkdirs()
    val code = (o.role, o.workload) match {
      case (r, w) if !Set("medallion", "curate").contains(w) && r != "selftest" =>
        System.err.println(s"unknown workload: $w (medallion | curate)"); 2
      case ("run", "medallion") => withSpark(o)(Medallion.run(o, _, _))
      case ("run", "curate") => withSpark(o)(Curate.run(o, _, _))
      case ("child", w) => childRun(o, w)
      case ("selftest", _) => SelfTest.run(o)
      case (r, _) => System.err.println(s"unknown role: $r"); 2
    }
    sys.exit(code)
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(o: Opts): SparkSession = {
    val tmp = new File(o.work, "spark-local"); tmp.mkdirs()
    val spark = graft.GraftSession.builder(cores.toString)
      .config("spark.local.dir", tmp.getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run a workload on a fresh session; its set-up starts with the JVM. */
  def withSpark(o: Opts)(f: (SparkSession, Double) => Result): Int = {
    val spark = session(o)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val stamps = Stamps.begin()
    val r = try f(spark, sessionS) catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop(); return 1
    }
    spark.stop()
    write(o, r, stamps)
  }

  /** `--role child`: the workload's timed part, cold and traced, in this
    * fresh JVM; the outcome goes to `--out` as JSON. */
  def childRun(o: Opts, workload: String): Int = {
    val spark = session(o)
    val out = try {
      if (workload == "medallion") Medallion.childMain(o, spark) else Curate.childMain(o, spark)
    } finally spark.stop()
    Files.write(o.out.toPath, Report.json(out).getBytes(StandardCharsets.UTF_8))
    0
  }

  /** Launch the traced twin of this run in a fresh JVM and read back its
    * outcome. */
  def child(o: Opts, args: Seq[String]): com.fasterxml.jackson.databind.JsonNode = {
    val res = new File(o.work, "child.json")
    val cmd = Seq(new File(System.getProperty("java.home"), "bin/java").getPath) ++
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", System.getProperty("java.class.path"), "lakebench.Bench",
        "--role", "child", "--workload", o.workload, "--seed", o.seed.toString,
        "--work", o.work.getPath, "--out", res.getPath) ++ args
    val code = new ProcessBuilder(cmd: _*).inheritIO()
      .redirectOutput(ProcessBuilder.Redirect.INHERIT).start().waitFor()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    if (code == 0 && res.exists) mapper.readTree(res)
    else mapper.readTree(s"""{"failures": ["traced JVM exited with code $code"]}""")
  }

  /** The ledger a traced child JVM reported. */
  def ledgerOf(child: com.fasterxml.jackson.databind.JsonNode): Map[String, Double] =
    child.path("ledger").properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap

  def spanMaps(tr: Tracer): Seq[Map[String, Any]] = tr.spanRecords.map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))

  def mergeLedgers(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  // ---- result ------------------------------------------------------------------

  /** One run's outcome: counts, the printed metrics, and what goes into
    * the record (input properties, sample counts, the ledger, spans). */
  final case class Result(attempted: Long, failed: Long, failures: Seq[String],
      metrics: Seq[(String, Double)], record: Map[String, Any])

  def write(o: Opts, r: Result, stamps: Map[String, Any]): Int = {
    val cat = if (o.trace) Report.PerLayer else Report.EndToEnd
    val units = cat.map(m => m.name -> m.unit).toMap
    val got = r.metrics.toMap
    val missing = cat.map(_.name).filterNot(got.contains)
    if (missing.nonEmpty) {
      System.err.println(s"internal error: metrics not measured: ${missing.mkString(", ")}")
      return 1
    }
    val correct = r.failed == 0 && r.failures.isEmpty
    r.failures.take(20).foreach(f => System.err.println(s"check failed: $f"))
    val metrics = mutable.LinkedHashMap.empty[String, Any]
    cat.foreach(m => metrics(m.name) = mutable.LinkedHashMap("value" -> got(m.name), "unit" -> units(m.name)))
    val line = Report.json(mutable.LinkedHashMap("correct" -> correct,
      "attempted" -> r.attempted, "failed" -> r.failed, "metrics" -> metrics))
    val record = mutable.LinkedHashMap[String, Any]("workload" -> o.workload,
      "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace) ++
      stamps.filterNot(_._1.startsWith("_")) ++
      Stamps.end(stamps) ++ r.record ++ Seq("failures" -> r.failures, "result" -> line)
    val name = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"
    Files.write(new File(o.records, name).toPath, Report.json(record).getBytes(StandardCharsets.UTF_8))
    Files.write(o.out.toPath, line.getBytes(StandardCharsets.UTF_8))
    0
  }

  // ---- helpers -------------------------------------------------------------

  /** Run one CLI command as a user would, capturing what it prints. */
  def cli(spark: SparkSession, args: String*): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    Console.withOut(ps) { Main.run(spark, args.toArray) }
    ps.flush()
    buf.toString("UTF-8")
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def bytesUnder(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)

  def filesUnder(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles).map(_.map(filesUnder).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Largest post-GC heap occupancy at the boundaries of the timed
    * operations: each `sample()` runs full collections (outside every
    * timed section) and reads the heap in use after them. Explicit
    * collections make the figure the live set rather than whatever
    * garbage the last young collection happened to leave behind. */
  final class HeapWatch {
    private var peak = 0L
    def sample(): Unit = {
      // the second collection reclaims what Spark's ContextCleaner
      // released (cached blocks, broadcasts) after the first one
      System.gc()
      Thread.sleep(100)
      System.gc()
      peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    def peakMb: Double = peak / (1024.0 * 1024.0)
  }

  def lakeBytesRatio(lakeBytes: Long, inputBytes: Long): Double =
    lakeBytes.toDouble / math.max(1L, inputBytes)
}

/** Machine stamps of every record: cores, CPU steal over the run, a CPU
  * canary, the Spark version. */
object Stamps {
  private def stealJiffies(): (Long, Long) = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val line = try f.getLines().find(_.startsWith("cpu ")).getOrElse("") finally f.close()
    val xs = line.split("\\s+").drop(1).map(_.toLong)
    (if (xs.length > 7) xs(7) else 0L, xs.sum)
  } catch { case _: Exception => (0L, 0L) }

  /** A fixed single-thread floating-point loop; its time tracks how fast
    * this machine runs right now. */
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var s = 0.0
    var i = 1
    while (i < 20000000) { s += math.sqrt(i.toDouble); i += 1 }
    if (s < 0) println(s)
    (System.nanoTime() - t0) / 1e6
  }

  def begin(): Map[String, Any] = {
    val (st, tot) = stealJiffies()
    Map("cpus" -> Bench.cores, "canary_ms" -> canaryMs(),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "_steal0" -> st, "_total0" -> tot)
  }

  def end(b: Map[String, Any]): Map[String, Any] = {
    val (st, tot) = stealJiffies()
    val dSt = st - b("_steal0").asInstanceOf[Long]
    val dTot = tot - b("_total0").asInstanceOf[Long]
    Map("steal_frac" -> (if (dTot > 0) dSt.toDouble / dTot else 0.0),
      "canary_end_ms" -> canaryMs())
  }
}
