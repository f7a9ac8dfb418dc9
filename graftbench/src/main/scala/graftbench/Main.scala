package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{Graft, GraftSession, SessionCache}

/** The benchmark's JVM side: set up graft's session, run one workload as
  * a closed loop with one client, and write what it measured as JSON.
  * `run.py` generates the inputs, starts this, checks the outputs and
  * turns the records into metrics.
  *
  * {{{
  * graftbench.Main --workload W --seed N --seconds S --trace 0|1 --data DIR --out DIR
  * }}}
  */
object Main {
  /** Session set-ups per run: the first from a cold JVM, the others in a
    * fresh SparkContext after stopping the previous one. */
  val SetupRuns = 5
  /** Cold and warm jobs an untraced run makes, however short `--seconds`
    * is; a traced run makes one of each, and one traced warm job. Warm
    * jobs still get faster as the JIT compiler works, so a fixed count
    * keeps the mix behind each median the same from run to run. */
  val MinCold = 2
  val MinWarm = 5
  /** The loop stops after this long even if it has not made its jobs. */
  val MaxLoopSeconds = 110.0

  private def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shipped session: GraftSession.tune on local[cpus], with the
    * shuffle partition count graft.Bench uses. */
  private def session(): SparkSession = {
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session ready plus a 1-row query through a graft kernel, timed from
    * `t0`; returns (session, create seconds, set-up seconds). */
  private def setUp(t0: Long): (SparkSession, Double, Double) = {
    val spark = session()
    val t1 = System.nanoTime()
    spark.sql("SELECT graft_simhash('graft benchmark') AS h").collect()
    (spark, (t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val data = opts("data")
    val out = Paths.get(opts("out"))
    val workload = Workloads(name, seed)

    var spark: SparkSession = null
    val setups = (0 until SetupRuns).map { i =>
      if (spark != null) spark.stop()
      val (s, create, setup) = setUp(if (i == 0) entry else System.nanoTime())
      spark = s
      (create, setup)
    }
    val sc = spark.sparkContext
    val meter = new Meter(sc)
    sc.addSparkListener(meter)
    val tracer = new Tracer(spark, meter, s"$name-$seed-${System.currentTimeMillis()}")

    val jobs = ArrayBuffer.empty[JobRecord]
    def run(kind: String, traced: Boolean): Unit =
      jobs += tracer.runJob(jobs.length, kind, traced)(workload.job(spark, data, tracer))
    def colds: Int = jobs.count(_.kind == "cold")
    // Job 0 is the JVM's first: no code has been generated or JIT-compiled
    // yet. It is the warm-up, and its outputs are the ones checked.
    run("first", traced = false)
    val firstDir = out.resolve("first")
    Files.createDirectories(firstDir)
    jobs.head.outputs.foreach(o => write(firstDir.resolve(s"${o.name}.tsv"), o.tsv))
    // Then pairs of a cold job on an emptied SessionCache, which builds
    // the session memos again, and a warm job, which reads them; then
    // warm jobs until there are MinWarm and `seconds` have passed. A
    // traced run is first, traced cold, warm, traced warm.
    def warm(): Unit = {
      run("warm", traced = false)
      if (trace) run("warm", traced = true)
    }
    def warms: Int = jobs.count(j => j.kind == "warm" && !j.traced)
    val start = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    def within: Boolean = elapsed < MaxLoopSeconds
    while (colds < (if (trace) 1 else MinCold) && within) {
      SessionCache.clear(spark)
      Graft.drain(spark)
      run("cold", trace)
      warm()
    }
    while (!trace && (warms < MinWarm || elapsed < seconds) && within) warm()

    val memoMb = Meter.persistedMb(sc)
    SessionCache.clear(spark)
    Graft.drain(spark)
    val leakedMb = Meter.persistedMb(sc)

    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_cores" -> cpus.toString,
      "jvm_max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "shuffle_partitions" -> q(spark.conf.get("spark.sql.shuffle.partitions")),
      "spark_version" -> q(spark.version),
      "scala_version" -> q(scala.util.Properties.versionNumberString),
      "java_version" -> q(System.getProperty("java.version")))
    val jobJson = jobs.map { j =>
      s"""{"index":${j.index},"kind":"${j.kind}","traced":${j.traced},"wall_s":${j.wallS},""" +
        s""""digest":${j.digest.map(q).getOrElse("null")},""" +
        s""""error":${j.error.map(q).getOrElse("null")},"peak_storage_mb":${j.peakMb},""" +
        s""""memo_builds":${j.memoBuilds},"memo_touches":${j.memoTouches},${j.totals.json}}"""
    }
    val oracle = workload.oracleSql.map { case (k, v) => s"${q(k)}:${q(v)}" }
    write(out.resolve("record.json"),
      s"""{"host":${host.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},""" +
        s""""create_s":${setups.map(_._1).mkString("[", ",", "]")},""" +
        s""""setup_s":${setups.map(_._2).mkString("[", ",", "]")},""" +
        s""""memo_counters":${MemoCounters.builds >= 0},""" +
        s""""rank_keys":${(RankSession.Keys ++ RankSession.ProbeKeys).map(q).mkString("[", ",", "]")},""" +
        s""""memo_storage_mb":$memoMb,"leaked_mb":$leakedMb,""" +
        s""""notes":${tracer.notesJson},"oracle":${oracle.mkString("{", ",", "}")},""" +
        s""""jobs":${jobJson.mkString("[", ",", "]")}}""")
    write(out.resolve("spans.jsonl"), tracer.spans.map(_.json + "\n").mkString)
    spark.stop()
  }

  private def q(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(UTF_8))
}
