package graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.json4s.JObject
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.model.SumRecord

/** The benchmark's JVM entry, started by `perfbench/run.py`:
  *
  * {{{
  * java -cp <classes>:<spark jars> graftbench.Main --workload <name>
  *   --seed <n> --seconds <s> --trace <0|1> --root <checkout> --launched <epoch s>
  *   --out <result.json> --details <details.json> --spans <spans.jsonl>
  * }}}
  *
  * It writes the result line to `--out`; `run.py` prints it.
  */
object Main {
  val Workloads: Seq[String] = Seq("ref-findsim", "crud-mix", "sf01-queries")

  private def now(): Double = { val i = Instant.now(); i.getEpochSecond + i.getNano / 1e9 }

  private def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("unknown")

  def session(cores: Int, scratch: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "30000")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", scratch.resolve("ckpt").toString)
      .config("graft.io.dir", scratch.resolve("graft-io").toString)
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Each checker must count a planted wrong answer as a failure, or a
    * checker could pass vacuously. Returns the planted answers that a
    * checker let through; a run is correct only if there are none.
    */
  def selfCheck(): Seq[String] = {
    val missed = Seq.newBuilder[String]
    def planted(what: String, problem: Option[String]): Unit = if (problem.isEmpty) missed += what
    val ref = Array(1f, 0f); val near = Array(1f, 0.1f)
    val exact = Check.cosine(ref, near)
    planted("planted similarity", Check.similar(Map(2L -> (exact + 1e-6)), ref, 1L, 0.5,
      Iterator(2L -> near), _ => Nil))
    planted("planted missing id", Check.similar(Map.empty, ref, 1L, 0.5,
      Iterator(2L -> near), _ => Nil))
    val rec = SumRecord(7L, Array(0.5f, 0.25f), Array(2L), Map("bucket" -> "b1"))
    planted("planted record", Check.sameRecord(rec.copy(data = Array(0.5f, 0.2500001f)), rec))
    val other = rec.copy(id = 8L)
    val live = scala.collection.immutable.TreeMap(rec.id -> rec)
    planted("planted deleted record on page", Check.page(Seq(rec, other), 10, Set(7L, 8L), live))
    planted("planted page missing a record", Check.page(Seq(rec.copy(id = 6L), other), 10,
      Set(7L), live))
    planted("planted bucket", Check.bucket("b1", Seq(rec, other), Seq(rec)))
    planted("planted record count", Check.recordCount(8193L, 8192L))
    val exp = Map("q" -> Sf01Queries.Answer(43L, "00000000000000aa"))
    planted("planted row count", Sf01Queries.answerProblem(exp, "q",
      Right(Sf01Queries.Answer(44L, "00000000000000aa"))))
    planted("planted content", Sf01Queries.answerProblem(exp, "q",
      Right(Sf01Queries.Answer(43L, "00000000000000ab"))))
    missed.result()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val root = Paths.get(opts("root")).toAbsolutePath
    val data = root.resolve("perfbench/data")
    val expected = root.resolve("perfbench/expected_sf01.json")
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val load0 = loadavg()
    val spark = session(cores, Paths.get(opts("scratch")))
    val sessionS = now() - opts("launched").toDouble
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toInt, new Tally)
    opts.get("record-expected") match {
      case Some(out) =>
        Sf01Queries.record(ctx, data, Paths.get(out)); spark.stop(); return
      case None =>
    }
    val missed = selfCheck()
    val selfOk = missed.isEmpty
    val tracer = new Tracer
    val tap = new SparkTap(spark, tracer)
    val outcome = (workload, traced) match {
      case ("ref-findsim", false)  => RefFindSim.run(ctx)
      case ("ref-findsim", true)   => RefFindSim.traced(ctx, tracer, tap)
      case ("crud-mix", false)     => CrudMix.run(ctx)
      case ("crud-mix", true)      => CrudMix.traced(ctx, tracer, tap)
      case ("sf01-queries", false) => Sf01Queries.run(ctx, data, expected)
      case (_, true)               => Sf01Queries.traced(ctx, data, expected, tracer, tap)
    }
    val attempted = ctx.tally.attempted.get
    val failed = ctx.tally.failed.get
    val metrics = if (traced) outcome.metrics else outcome.metrics ++ Seq(
      Metric("setup_s", sessionS + outcome.setupAfterSessionS.get, "s"),
      Metric("ok_frac", 1.0 - failed.toDouble / math.max(1L, attempted), "ratio"))
    val result = ("correct" -> (selfOk && failed == 0 && attempted > 0)) ~
      ("attempted" -> attempted) ~ ("failed" -> failed) ~
      ("metrics" -> JObject(metrics.map(m => m.name -> (("value" -> m.value) ~ ("unit" -> m.unit))).toList))
    val details = ("workload" -> workload) ~ ("seed" -> ctx.seed) ~ ("seconds" -> ctx.seconds) ~
      ("trace" -> traced) ~ ("local_cores" -> cores) ~ ("loadavg_start" -> load0) ~
      ("loadavg_end" -> loadavg()) ~
      ("java" -> sys.props.getOrElse("java.runtime.version", "unknown")) ~
      ("spark" -> spark.version) ~ ("session_s" -> sessionS) ~ ("self_check_missed" -> missed) ~
      ("failures" -> ctx.tally.failureList) ~ outcome.details
    if (traced) tracer.writeJsonLines(Paths.get(opts("spans")))
    spark.stop()
    Files.writeString(Paths.get(opts("details")), compact(render(details)) + "\n")
    Files.writeString(Paths.get(opts("out")), compact(render(result)) + "\n")
  }
}
