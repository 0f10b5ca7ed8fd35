package graftbench

import java.math.MathContext
import java.nio.file.{Files, Path}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Caches, SparkEntry}

/** graft's analytics users: one timed pass of registered queries over the
  * sf0.1 fixture, each query warmed once at sf0.001 first. It bypasses the
  * service and the store.
  */
object Sf01Queries {

  /** Short names; the full names are the `SparkEntry.queries` keys that
    * start with `<short>_`.
    */
  val Short: Seq[String] = Seq("v02", "d04", "t06", "t08", "t14", "t32", "q03", "q20", "o01")

  type Query = (SparkSession, String) => DataFrame

  def resolve(): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    Short.map { s =>
      val hits = all.keys.filter(_.startsWith(s + "_")).toSeq
      require(hits.size == 1, s"query $s resolves to ${hits.mkString(",")}")
      hits.head -> all(hits.head)
    }
  }

  /** A query's answer as the checks see it. */
  final case class Answer(rows: Long, hash: String)

  /** Expected answers, recorded beside the benchmark. */
  def loadExpected(path: Path): Map[String, Answer] = {
    import org.json4s._
    val JObject(fields) = org.json4s.jackson.JsonMethods.parse(Files.readString(path))
    fields.map { case (name, v) =>
      val JInt(rows) = v \ "rows"
      val JString(hash) = v \ "hash"
      name -> Answer(rows.toLong, hash)
    }.toMap
  }

  private def norm(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new MathContext(10)).stripTrailingZeros.toPlainString
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case xs: Iterable[_] => xs.map(norm).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-independent content hash: the sum of 64-bit row hashes. Doubles
    * are compared to 10 significant digits, so summation-order drift in the
    * last bits of an aggregate does not read as a wrong answer.
    */
  def contentHash(rows: Array[Row]): String = {
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val s = norm(r)
      acc + ((MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL))
    }
    f"$sum%016x"
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def answer(rows: Array[Row]): Answer = Answer(rows.length, contentHash(rows))

  /** One query run: its answer, or the error it threw, and its seconds. */
  final case class Run(name: String, answer: Either[String, Answer], s: Double)

  /** Runs one query and resets graft's caches after it, so every query
    * builds its own artifacts whatever the order. The timed call is
    * `collect()`, which evaluates every output column and the final sort; a
    * `count()` would let Catalyst prune both, so a query's kernels would not
    * run. The rows are hashed after the clock stops.
    */
  private def once(ctx: Ctx, name: String, fn: Query, dir: String,
      around: (=> Array[Row]) => Array[Row] = f => f): Run = {
    val (res, s) = timed(try Right(around(fn(ctx.spark, dir).collect()))
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") })
    Caches.reset(ctx.spark)
    Run(name, res.map(answer), s)
  }

  private def pass(ctx: Ctx, qs: Seq[(String, Query)], dir: String): Seq[Run] =
    qs.map { case (name, fn) => once(ctx, name, fn, dir) }

  def answerProblem(exp: Map[String, Answer], name: String,
      got: Either[String, Answer]): Option[String] = got match {
    case Left(e) => Some(e)
    case Right(_) if !exp.contains(name) => Some("no expected answer recorded")
    case Right(a) if a.rows != exp(name).rows => Some(s"${a.rows} rows, expected ${exp(name).rows}")
    case Right(a) if a.hash != exp(name).hash =>
      Some(s"content hash ${a.hash}, expected ${exp(name).hash}")
    case _ => None
  }

  private def check(ctx: Ctx, exp: Map[String, Answer], runs: Seq[Run]): Unit =
    runs.foreach(r => ctx.tally.outcome(r.name, answerProblem(exp, r.name, r.answer)))

  private def warm(ctx: Ctx, qs: Seq[(String, Query)], small: String): Unit =
    pass(ctx, qs, small).foreach(r => ctx.tally.outcome(s"${r.name} warm-up", r.answer.left.toOption))

  def run(ctx: Ctx, data: Path, expected: Path): Outcome = {
    import org.json4s.JsonDSL._
    val qs = ctx.rnd(5).shuffle(resolve())
    val exp = loadExpected(expected)
    val (_, warmS) = timed(warm(ctx, qs, data.resolve("sf0.001").toString))
    // Timed passes, each query's fastest run counted (graft.Bench's rule):
    // the C2 compiler is still speeding the longer queries up through the
    // third pass at sf0.1, and on a shared host a burst of stolen CPU slows
    // one pass, not all four.
    val passes = Seq.fill(4)(pass(ctx, qs, data.resolve("sf0.1").toString))
    passes.foreach(check(ctx, exp, _))
    val best = passes.transpose.map(_.minBy(_.s))
    val bestMs = best.map(_.s * 1000)
    Outcome(Seq(
      Metric("ops_per_s", best.size / best.map(_.s).sum, "ops/s"),
      Metric("geo_p50_ms", Stats.geomean(bestMs), "ms"),
      Metric("p90_ms", Stats.pct(bestMs, 90), "ms"),
      Metric("heap_mb", Serving.heapMb(), "MiB")),
      Some(warmS),
      ("order" -> qs.map(_._1)) ~ ("queries_s" -> best.map(_.s).sum) ~
        ("query_s" -> passes.map(_.map(r => r.name -> r.s).toMap)))
  }

  def traced(ctx: Ctx, data: Path, expected: Path, tracer: Tracer, tap: SparkTap): Outcome = {
    import org.json4s.JsonDSL._
    val qs = ctx.rnd(5).shuffle(resolve())
    val exp = loadExpected(expected)
    val big = data.resolve("sf0.1").toString
    warm(ctx, qs, data.resolve("sf0.001").toString)
    // The first pass at sf0.1 pays first-touch costs that later runs do not,
    // and each later run is a little warmer than the one before; so the pass
    // is checked but not timed, and then each query runs untraced and traced
    // back to back, alternating which goes first.
    check(ctx, exp, pass(ctx, qs, big))
    def traced(name: String, fn: Query) = {
      tap.install(); tap.setPhase("queries")
      try once(ctx, name, fn, big, f => {
        ctx.spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
        try tracer.span("query.run", name)(f) finally ctx.spark.sparkContext.clearJobGroup()
      }) finally tap.uninstall()
    }
    val pairs = qs.zipWithIndex.map { case ((name, fn), i) =>
      if (i % 2 == 0) { val u = once(ctx, name, fn, big); (u, traced(name, fn)) }
      else { val t = traced(name, fn); (once(ctx, name, fn, big), t) }
    }
    val results = pairs.map(_._2)
    check(ctx, exp, pairs.map(_._1) ++ results)
    tap.drain()
    val facts = tap.queryFacts(g => qs.exists(_._1 == g)).map(_._2)
    val phase = tap.ofPhase("queries")
    Outcome(Seq(
      Metric("queries.plan_ms", facts.map(_.planMs).sum, "ms"),
      Metric("queries.exec_ms", facts.map(_.execMs).sum, "ms"),
      Metric("queries.codegen_stages", facts.map(_.codegenStages).sum.toDouble, "count")) ++
      results.map(r => Metric(s"query.${r.name.takeWhile(_ != '_')}_ms", r.s * 1000, "ms")) ++
      Serving.sparkMetrics(phase, phase.taskMs.toSeq) :+
      Metric("bench.trace_overhead", results.map(_.s).sum / pairs.map(_._1.s).sum - 1.0, "ratio"),
      None, "order" -> qs.map(_._1))
  }

  /** Writes the expected row counts and content hashes for the fixture. */
  def record(ctx: Ctx, data: Path, out: Path): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods.{pretty, render}
    val big = data.resolve("sf0.1").toString
    val answers = resolve().map { case (name, fn) =>
      val a = answer(fn(ctx.spark, big).collect())
      Caches.reset(ctx.spark)
      name -> (("rows" -> a.rows) ~ ("hash" -> a.hash))
    }
    Files.writeString(out, pretty(render(org.json4s.JObject(answers.toList))) + "\n")
  }
}
