package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CyclicBarrier}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.json4s.JObject
import org.json4s.JsonDSL._

import graft.model.SumRecord
import graft.oracle.Payload

/** What a workload hands back: metrics for the result line, the share of
  * set-up time spent after the Spark session was ready, and details that go
  * to the run's detail file rather than the result line.
  */
final case class Outcome(metrics: Seq[Metric], setupAfterSessionS: Option[Double],
    details: JObject)

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, tally: Tally) {
  def rnd(parts: Long*): Random = new Random(parts.foldLeft(seed * 1000003L)(_ * 31L + _))
}

/** Instrumentation wrapped around each request of a replay. Untraced, it
  * does nothing. Traced, it records a span, sets the request's Spark job
  * group on direct (in-process) calls so the listener can attribute jobs
  * to it, and samples monitor-blocked time on store calls.
  */
final class Hooks(spark: SparkSession, tracer: Option[Tracer], val mode: String) {
  private val mx = ManagementFactory.getThreadMXBean
  if (tracer.isDefined && mx.isThreadContentionMonitoringSupported)
    mx.setThreadContentionMonitoringEnabled(true)
  val blockedMs = new ConcurrentLinkedQueue[Double]()

  def apply[A](layer: String, op: String, req: String)(f: => A): A = tracer match {
    case None => f
    case Some(t) =>
      val direct = mode != "grpc"
      if (direct) spark.sparkContext.setJobGroup(req, op, interruptOnCancel = false)
      val tid = Thread.currentThread.getId
      val b0 = mx.getThreadInfo(tid).getBlockedTime
      try t.span(s"$layer.$op", req)(f)
      finally {
        if (mode == "store") blockedMs.add((mx.getThreadInfo(tid).getBlockedTime - b0).toDouble)
        if (direct) spark.sparkContext.clearJobGroup()
      }
  }
}

object Serving {
  val Clients = 2

  /** Runs `body(client)` on one thread per client and waits for all. */
  def closedLoop(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() => try body(c) catch { case e: Throwable => errors.add(e); () },
        s"bench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def attempt(f: => Res): Res =
    try f catch { case e: Exception => Res(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Heap in use after full collections: the lowest of three reads, since
    * one `System.gc()` does not always reclaim what Spark just released.
    */
  def heapMb(): Double = (1 to 3).map { _ =>
    System.gc(); Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Wire facts of one traced gRPC request. */
  def noteWire(t: Tally, res: Res, isRun: Boolean): Unit = {
    t.sample("grpc.req_bytes", res.reqBytes)
    t.sample("grpc.resp_bytes", res.respBytes)
    if (isRun) t.sample("grpc.compressed", if (res.compressed) 1.0 else 0.0)
    if (!res.ok && res.msg.startsWith("StatusRuntimeException")) t.sample("grpc.status_error", 1)
  }

  def layerOf(mode: String, op: String): String = mode match {
    case "grpc"    => "rpc"
    case "service" => "service"
    case _         => if (op == "run") "oracle" else "store"
  }

  /** Bytes a user hands the store for one record: id, floats, shape, meta. */
  def rawBytes(r: SumRecord): Long =
    8L + 4L * r.data.length + 8L * math.max(1, r.shape.length) +
      r.meta.map { case (k, v) => k.length + v.length }.sum

  /** Per-layer metrics shared by both serving workloads, from the three
    * traced replays of one request sequence.
    */
  def layerMetrics(ctx: Ctx, tap: SparkTap, tracer: Tracer, hooks: Map[String, Hooks],
      walls: Map[String, Double], untracedWall: Double, ops: Seq[String],
      store: StoreTarget, userBytesWritten: Long): Seq[Metric] = {
    val t = ctx.tally
    def lat(mode: String) = ops.flatMap(op => t.of(s"$mode.$op"))
    val grpc = lat("grpc"); val svc = lat("service"); val direct = lat("store")
    val storeReqs = tracer.spans.filter(s => s.parent == 0 && s.req.startsWith("store-"))
    val storeOps = storeReqs.filter(_.name.startsWith("store."))
    val runs = storeReqs.filter(_.name == "oracle.run")
    def perReq(spans: Seq[Span])(f: SparkAgg => Double) =
      if (spans.isEmpty) 0.0 else spans.map(s => f(tap.group(s.req))).sum / spans.size
    val reads = storeOps.filter(s => Set("store.read", "store.list", "store.findby")(s.name))
    val readGroups = reads.map(_.req).toSet
    val scanned = tap.queryFacts(readGroups).map(_._2.scannedRows).sum
    val cachedBytes = ctx.spark.sparkContext.getRDDStorageInfo
      .filter(_.isCached).map(i => i.memSize + i.diskSize).sum
    val live = store.store.records.collect().map(rawBytes).sum
    val phase = tap.ofPhase("grpc")
    val taskMs = phase.taskMs.toSeq
    val runSpark = runs.map(s => tap.group(s.req).jobMs)
    val opMetrics = Seq("create", "update", "delete", "read", "list", "findby")
      .flatMap { op =>
        val xs = tracer.named(s"store.$op").filter(_.req.startsWith("store-")).map(_.ms)
        val name = if (op == "read") "find" else op
        if (xs.isEmpty) None else Some(Metric(s"store.${name}_ms", Stats.median(xs), "ms"))
      }
    val runMetrics = if (runs.isEmpty) Nil else Seq(
      Metric("oracle.run_ms", Stats.median(runs.map(_.ms)), "ms"),
      Metric("oracle.spark_ms", Stats.median(runSpark), "ms"),
      Metric("oracle.self_ms", Stats.median(runs.zip(runSpark).map { case (s, j) => s.ms - j }), "ms"),
      Metric("oracle.jobs_per_run", perReq(runs)(_.jobs.toDouble), "count"),
      Metric("oracle.result_bytes_per_run", perReq(runs)(_.resultBytes.toDouble), "bytes"))
    // Per-RPC latency from the untraced gRPC replays (`findby` is FindRecords).
    val rpcMetrics = ops.map(op => op -> t.of(s"grpc-untraced.$op")).collect {
      case (op, xs) if xs.nonEmpty =>
        Metric(s"rpc.${if (op == "findby") "find" else op}_p50_ms", Stats.median(xs), "ms")
    }
    val canon = tracer.named("oracle.canon_run").map(_.ms)
    val gzip = t.of("service.gzip")
    val grpcRuns = t.of("grpc.compressed")
    rpcMetrics ++ opMetrics ++ runMetrics ++
      (if (canon.isEmpty) Nil else Seq(Metric("oracle.canon_run_ms", Stats.median(canon), "ms"))) ++
      Seq(
        Metric("service.wire_ms", Stats.median(grpc) - Stats.median(svc), "ms"),
        Metric("service.facade_ms", Stats.median(svc) - Stats.median(direct), "ms"),
        Metric("service.req_bytes", Stats.mean(t.of("grpc.req_bytes")), "bytes"),
        Metric("service.resp_bytes", Stats.mean(t.of("grpc.resp_bytes")), "bytes"),
        Metric("service.gzip_ms", if (gzip.isEmpty) 0.0 else Stats.median(gzip), "ms"),
        Metric("service.compressed_frac", Stats.mean(grpcRuns), "ratio"),
        Metric("service.status_errors", t.of("grpc.status_error").size.toDouble, "count"),
        Metric("store.jobs_per_op", perReq(storeOps)(_.jobs.toDouble), "count"),
        Metric("store.tasks_per_op", perReq(storeOps)(_.tasks.toDouble), "count"),
        Metric("store.blocked_ms", Stats.mean(hooks("store").blockedMs.asScala.toSeq), "ms"),
        Metric("store.partitions_end", store.store.records.rdd.getNumPartitions.toDouble, "count"),
        Metric("store.cached_mb", cachedBytes / 1048576.0, "MiB"),
        Metric("store.space_amp", cachedBytes.toDouble / live, "ratio"),
        Metric("store.rows_scanned_per_read",
          if (reads.isEmpty) 0.0 else scanned.toDouble / reads.size, "count")) ++
      (if (userBytesWritten == 0) Nil else Seq(Metric("store.write_amp",
        tap.ofPhase("store").rddBlockBytes.toDouble / userBytesWritten, "ratio"))) ++
      sparkMetrics(phase, taskMs) ++
      Seq(Metric("bench.trace_overhead", walls("grpc") / untracedWall - 1.0, "ratio"))
  }

  def sparkMetrics(a: SparkAgg, taskMs: Seq[Double]): Seq[Metric] = {
    val mb = 1048576.0
    Seq(
      Metric("spark.jobs", a.jobs.toDouble, "count"),
      Metric("spark.stages", a.stages.toDouble, "count"),
      Metric("spark.tasks", a.tasks.toDouble, "count"),
      Metric("spark.job_ms", a.jobMs, "ms"),
      Metric("spark.task_run_ms", a.taskRunMs, "ms"),
      Metric("spark.sched_delay_ms", a.schedDelayMs, "ms"),
      Metric("spark.gc_ms", a.gcMs, "ms"),
      Metric("spark.shuffle_read_mb", a.shuffleReadBytes / mb, "MiB"),
      Metric("spark.shuffle_write_mb", a.shuffleWriteBytes / mb, "MiB"),
      Metric("spark.spill_mb", a.spillBytes / mb, "MiB"),
      Metric("spark.task_skew",
        if (taskMs.isEmpty) 0.0 else taskMs.max / math.max(1.0, Stats.median(taskMs)), "ratio"),
      Metric("spark.result_mb", a.resultBytes / mb, "MiB"))
  }

  /** A short warm-up replay; then the replay over gRPC untraced, traced and
    * untraced again; then traced directly on the facade and on the store.
    * Each starts from a fresh store. The overhead baseline is the mean of
    * the two untraced replays around the traced one, so steady JIT warming
    * over the run does not read as tracing cost. `replay` is told its mode
    * ("grpc-warmup" asks for a short replay), calls its last argument when
    * set-up ends, and returns the replay's wall seconds.
    */
  def tracedReplays(ctx: Ctx, tracer: Tracer, tap: SparkTap,
      replay: (String, Hooks, Target, () => Unit) => Double)
      : (Map[String, Hooks], Map[String, Double], Double, StoreTarget) = {
    def untraced(mode: String) = {
      val target = Target("grpc", ctx.spark)
      try replay(mode, new Hooks(ctx.spark, None, mode), target, () => ())
      finally target.close()
    }
    untraced("grpc-warmup")
    val before = untraced("grpc-untraced")
    var after = 0.0
    var store: StoreTarget = null
    val results = Target.Modes.map { mode =>
      tap.install()
      tap.setPhase(s"setup-$mode")
      val hooks = new Hooks(ctx.spark, Some(tracer), mode)
      val target = Target(mode, ctx.spark)
      val wall = replay(mode, hooks, target, () => tap.setPhase(mode))
      tap.uninstall()
      target match {
        case s: StoreTarget => store = s // closed by the caller after reading it
        case other => other.close()
      }
      if (mode == "grpc") after = untraced("grpc-untraced")
      (mode, hooks, wall)
    }
    (results.map(r => r._1 -> r._2).toMap, results.map(r => r._1 -> r._3).toMap,
      (before + after) / 2, store)
  }
}

/** sum's own benchmark: the reference's JavaScript findSimilar over 1024
  * records of 475 floats in [0, 1), read-only, two closed-loop clients.
  */
object RefFindSim {
  import Serving._

  val Records = 1024
  val Dim = 475
  /** Each round starts from a fresh store. Set-up, throughput and the
    * median latency are reported as the median over rounds, so a burst of
    * host contention that slows one round does not move them; p90 needs
    * every round's samples.
    */
  val Rounds = 3
  /** Seconds of an unmeasured warm-up round before the measured ones: the
    * JIT is still speeding the request path up well into the first 10 s,
    * which a measured round would otherwise absorb.
    */
  val WarmS = 6.0
  val Threshold = 0.5
  val TracedPerClient = 12

  val Js: String =
    """function findSimilar(id, threshold) {
      |  var v = records.Find(id);
      |  if (v.IsNull() == true) { return ctx.Error("Vector " + id + " not found."); }
      |  var results = {};
      |  var all = records.AllBut(v);
      |  for (var i = 0; i < all.length; ++i) {
      |    var sim = v.Cosine(all[i]);
      |    if (sim >= threshold) { results[all[i].Id] = sim; }
      |  }
      |  return results;
      |}""".stripMargin

  final class Data(ctx: Ctx) {
    private val r = ctx.rnd(1)
    val records: IndexedSeq[SumRecord] = (1 to Records).map { i =>
      SumRecord(i.toLong, Array.fill(Dim)(r.nextFloat()), Array(Dim.toLong), Map.empty[String, String])
    }
    def vec(id: Long): Array[Float] = records((id - 1).toInt).data
    def check(id: Long, res: Res): Option[String] =
      if (!res.ok) Some(res.msg)
      else Check.simMap(res.json).fold(Some(_), got =>
        Check.similar(got, vec(id), id, Threshold,
          records.iterator.map(x => x.id -> x.data), _ => Nil))
    def ids(client: Int, round: Int): Iterator[Long] = {
      val rr = ctx.rnd(2, client, round)
      Iterator.continually(1L + rr.nextInt(Records))
    }
  }

  private def args(id: Long) = Seq(id.toString, Threshold.toString)

  /** Fresh store, preload, oracle create, one checked warm-up per client. */
  private def setup(ctx: Ctx, data: Data, target: Target, clients: Seq[Client]): Long = {
    val pre = target.preload(data.records)
    require(pre.ok, s"preload failed: ${pre.msg}")
    val oid = clients.head.createOracle("findSimilar", Js)
    clients.indices.foreach { c =>
      val id = 1L + c
      ctx.tally.outcome("warm-up run", data.check(id, attempt(clients(c).run(oid, args(id)))))
    }
    oid
  }

  def run(ctx: Ctx): Outcome = {
    val data = new Data(ctx)
    val setups = mutable.ArrayBuffer.empty[Double]
    val roundQps = mutable.ArrayBuffer.empty[Double]
    val roundP50 = mutable.ArrayBuffer.empty[Double]
    val roundP90 = mutable.ArrayBuffer.empty[Double]
    var heap = 0.0
    (0 to Rounds).foreach { round =>
      val warm = round == 0
      val t0 = System.nanoTime()
      val target = Target("grpc", ctx.spark)
      val clients = (0 until Clients).map(_ => target.client())
      val oid = setup(ctx, data, target, clients)
      if (!warm) setups += (System.nanoTime() - t0) / 1e9
      val name = if (warm) "findsim-warm-up" else "findsim"
      val before = ctx.tally.of(name).size
      val start = System.nanoTime()
      val deadline = start + (if (warm) WarmS * 1e9 else ctx.seconds * 1e9 / Rounds).toLong
      closedLoop(Clients) { c =>
        val ids = data.ids(c, round)
        while (System.nanoTime() < deadline) {
          val id = ids.next()
          val (res, ms) = timeMs(attempt(clients(c).run(oid, args(id))))
          ctx.tally.sample(name, ms)
          ctx.tally.outcome(name, data.check(id, res))
        }
      }
      val lat = ctx.tally.of(name).drop(before)
      if (!warm) {
        roundQps += lat.size / ((System.nanoTime() - start) / 1e9)
        roundP50 += Stats.median(lat)
        roundP90 += Stats.pct(lat, 90)
      }
      if (round == Rounds) heap = heapMb()
      clients.foreach(_.close()); target.close()
    }
    val lat = ctx.tally.of("findsim")
    Outcome(Seq(
      Metric("ops_per_s", Stats.median(roundQps.toSeq), "ops/s"),
      Metric("geo_p50_ms", Stats.median(roundP50.toSeq), "ms"),
      Metric("p90_ms", Stats.pct(lat, 90), "ms"),
      Metric("heap_mb", heap, "MiB")),
      Some(Stats.median(setups.toSeq)),
      ("samples" -> lat.size) ~ ("supported_tail_pct" -> Stats.supportedTail(lat.size)) ~
        ("round_setup_s" -> setups.toSeq) ~ ("round_qps" -> roundQps.toSeq) ~
        ("round_p50_ms" -> roundP50.toSeq) ~ ("round_p90_ms" -> roundP90.toSeq))
  }

  def traced(ctx: Ctx, tracer: Tracer, tap: SparkTap): Outcome = {
    val data = new Data(ctx)
    var compileMs = 0.0
    val (hooks, walls, untraced, store) = tracedReplays(ctx, tracer, tap, { (mode, hooks, target, begin) =>
      val clients = (0 until Clients).map(_ => target.client())
      val canonId = clients.head.findOracle("findSimilar")
      val oid = if (mode != "store") setup(ctx, data, target, clients) else {
        val pre = target.preload(data.records)
        require(pre.ok, s"preload failed: ${pre.msg}")
        val (id, ms) = timeMs(clients.head.createOracle("findSimilar", Js))
        compileMs = ms
        id
      }
      begin()
      val start = System.nanoTime()
      closedLoop(Clients) { c =>
        val ids = data.ids(c, 0)
        (0 until (if (mode == "grpc-warmup") 5 else TracedPerClient)).foreach { i =>
          val id = ids.next()
          val req = s"$mode-$c-$i"
          if (mode == "store") hooks("store", "read", req + "-find")(clients(c).read(id))
          val (res, ms) = timeMs(hooks(layerOf(mode, "run"), "run", req)(attempt(clients(c).run(oid, args(id)))))
          ctx.tally.sample(s"$mode.run", ms)
          if (mode == "grpc") noteWire(ctx.tally, res, isRun = true)
          ctx.tally.outcome(s"$mode run", data.check(id, res))
          if (mode == "store" && res.ok) {
            ctx.tally.sample("service.gzip", timeMs(Payload.buildString(res.json))._2)
            val canon = hooks("oracle", "canon_run", req + "-canon")(
              attempt(clients(c).run(canonId, args(id))))
            ctx.tally.outcome("canonical run", data.check(id, canon))
          }
        }
      }
      val wall = (System.nanoTime() - start) / 1e9
      clients.foreach(_.close())
      wall
    })
    try Outcome(Serving.layerMetrics(ctx, tap, tracer, hooks, walls, untraced, Seq("run"),
        store, 0L) :+ Metric("oracle.compile_ms", compileMs, "ms"),
      None, ("walls_s" -> walls) ~ ("untraced_wall_s" -> untraced))
    finally store.close()
  }
}

/** A mixed CRUD load beside point reads, scans and the canonical Scala
  * findSimilar, two closed-loop clients over one preloaded store. Each
  * client owns the preloaded records and the meta buckets of one id
  * parity, plus the records it creates (whose ids the store assigns), so it
  * can check that it reads its own writes while the other client writes.
  */
object CrudMix {
  import Serving._

  val Preload = 8192
  val Dim = 64
  val Buckets = 256
  val Threshold = 0.5
  val PerPage = 10
  /** Operations of one run, split between the clients. The count is fixed,
    * not the time: a write costs more the more writes came before it, so two
    * commits compared must do the same work.
    */
  val RunOps: Seq[(String, Int)] = Seq("create" -> 24, "read" -> 26, "update" -> 10,
    "delete" -> 10, "list" -> 10, "findby" -> 10, "run" -> 10)
  val Ops: Seq[String] = RunOps.map(_._1)
  val Blocks = 5
  /** Ops per client replayed in each mode of a traced run. */
  val TracedPerClient = 16

  /** Ops each client runs once, unmeasured, before the timed sequence, so
    * first-use JIT cost stays in set-up.
    */
  val WarmOps: Seq[String] = Seq("read", "list", "findby", "run")

  /** The op order both clients follow: each client runs half of
    * [[RunOps]], shuffled within [[Blocks]] consecutive blocks that each
    * hold an even share of every op type.
    *
    * A write costs more the more writes came before it, so a fully shuffled
    * order would let the seed decide whether, say, the updates land early
    * or late, and that choice would dominate the per-type medians. For the
    * same reason both clients follow one order and start each op together
    * (see [[Replayer.runAll]]), so their requests overlap the same way in
    * every run: two writes always meet, one waits for the other's lock, and
    * with an even count per type the median falls between the two.
    */
  def clientOps(r: Random): Seq[String] = {
    val blocks = Array.fill(Blocks)(mutable.ArrayBuffer.empty[String])
    for ((op, n) <- RunOps; k <- 0 until n / Clients) blocks(k * Blocks * Clients / n) += op
    blocks.toSeq.flatMap(b => r.shuffle(b.toSeq))
  }

  final class Data(ctx: Ctx) {
    private val r = ctx.rnd(3)
    val records: IndexedSeq[SumRecord] = (1 to Preload).map { i =>
      val owner = i % 2
      SumRecord(i.toLong, Array.fill(Dim)(r.nextFloat() * 2 - 1), Array(Dim.toLong),
        Map("name" -> s"p$i", "bucket" -> bucket(owner, r)))
    }
  }

  def bucket(owner: Int, r: Random): String = s"b${2 * r.nextInt(Buckets / 2) + owner}"

  /** What every client knows about the store during one replay. */
  final class Shared(data: Data) {
    private val versions = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[Array[Float]]]()
    private val touched = mutable.ArrayBuffer.empty[Long]
    val pendingRuns = new ConcurrentLinkedQueue[(Long, Array[Float], String, Int)]()
    @volatile var creates = 0
    @volatile var deletes = 0
    /** User bytes handed to create and update calls. */
    val writtenBytes = new java.util.concurrent.atomic.AtomicLong
    data.records.foreach(r => addVersion(r.id, r.data))

    def addVersion(id: Long, v: Array[Float]): Unit = {
      versions.computeIfAbsent(id, _ => new ConcurrentLinkedQueue[Array[Float]]()).add(v); ()
    }
    def versionsOf(id: Long): Seq[Array[Float]] =
      Option(versions.get(id)).map(_.asScala.toSeq).getOrElse(Nil)
    def touch(id: Long): Unit = touched.synchronized { touched += id; () }
    def touchedCount: Int = touched.synchronized(touched.size)
    def touchedPrefix(n: Int): Set[Long] = touched.synchronized(touched.take(n).toSet)
    def counted(create: Boolean): Unit = synchronized {
      if (create) creates += 1 else deletes += 1
    }
  }

  /** One client's replay of its op sequence, with its model of its records. */
  final class Replayer(ctx: Ctx, data: Data, shared: Shared, c: Int,
      client: Client, oid: Long, hooks: Hooks, limit: Int, barrier: CyclicBarrier) {
    private val r = ctx.rnd(4, c)
    private val live = mutable.TreeMap.empty[Long, SumRecord]
    data.records.iterator.filter(_.id % 2 == c).foreach(x => live(x.id) = x)
    /** Every id this client ever owned, deleted ones included. */
    private val mine = mutable.HashSet.from(live.keys)
    private var made = 0

    val ops: Seq[String] = clientOps(ctx.rnd(4)).take(limit)

    private def pick(): SumRecord = live.valuesIterator.drop(r.nextInt(live.size)).next()
    private def vec() = Array.fill(Dim)(r.nextFloat() * 2 - 1)
    private def meta() = Map("name" -> s"c$c-$made", "bucket" -> bucket(c, r))
    private def one(res: Res, want: SumRecord): Option[String] =
      if (!res.ok) Some(res.msg)
      else res.records.headOption.fold[Option[String]](Some("no record in response"))(
        Check.sameRecord(_, want))

    def warmUp(): Unit = WarmOps.zipWithIndex.foreach { case (op, i) =>
      step(op, s"${hooks.mode}-$c-warm$i", measured = false)
    }

    def runAll(): Unit = ops.zipWithIndex.foreach { case (op, i) =>
      barrier.await()
      step(op, s"${hooks.mode}-$c-$i")
    }

    private def step(op: String, req: String, measured: Boolean = true): Unit = {
      def call(f: => Res): Res = {
        if (!measured) return attempt(f)
        val (res, ms) = timeMs(hooks(layerOf(hooks.mode, op), op, req)(attempt(f)))
        ctx.tally.sample(s"${hooks.mode}.$op", ms)
        if (hooks.mode == "grpc") noteWire(ctx.tally, res, op == "run")
        res
      }
      val problem: Option[String] = op match {
        case "create" =>
          made += 1
          val rec = SumRecord(0L, vec(), meta())
          shared.writtenBytes.addAndGet(rawBytes(rec))
          val res = call(client.create(rec))
          res.records.headOption.filter(_ => res.ok) match {
            case None => Some(res.msg)
            case Some(got) =>
              val want = rec.copy(id = got.id)
              shared.addVersion(got.id, want.data); shared.touch(got.id); shared.counted(true)
              live(got.id) = want; mine += got.id
              Check.sameRecord(got, want).orElse(
                if (hooks.mode != "store" && res.msg != got.id.toString)
                  Some(s"create echoed '${res.msg}', not the id ${got.id}") else None)
          }
        case "read" =>
          val want = pick()
          one(call(client.read(want.id)), want)
        case "update" =>
          val old = pick()
          val want = old.copy(data = vec(), meta = meta())
          shared.touch(want.id); shared.addVersion(want.id, want.data)
          shared.writtenBytes.addAndGet(rawBytes(want))
          val p = one(call(client.update(want)), want)
          live(want.id) = want
          p
        case "delete" =>
          val want = pick()
          shared.touch(want.id)
          val p = one(call(client.delete(want.id)), want)
          if (p.isEmpty) shared.counted(false)
          live.remove(want.id)
          p
        case "list" =>
          val res = call(client.list(1L + r.nextInt(Preload / PerPage), PerPage))
          if (!res.ok) Some(res.msg) else Check.page(res.records, PerPage, mine, live)
        case "findby" =>
          val b = bucket(c, r)
          val res = call(client.find("bucket", b))
          val want = live.valuesIterator.filter(_.meta("bucket") == b).toSeq
          if (!res.ok) Some(res.msg) else Check.bucket(b, res.records, want)
        case "run" =>
          val ref = pick()
          val res = call(client.run(oid, Seq(ref.id.toString, Threshold.toString)))
          if (!res.ok) Some(res.msg)
          else { shared.pendingRuns.add((ref.id, ref.data, res.json, shared.touchedCount)); None }
      }
      if (op != "run" || problem.isDefined) ctx.tally.outcome(op, problem)
    }
  }

  /** Checks held back until the replay ends, when every written version is
    * known: each deferred `Run` result and the final record count.
    */
  private def finish(ctx: Ctx, data: Data, shared: Shared, client: Client): Unit = {
    shared.pendingRuns.asScala.foreach { case (refId, ref, json, n) =>
      val touched = shared.touchedPrefix(n)
      ctx.tally.outcome("run", Check.simMap(json).fold(Some(_), got =>
        Check.similar(got, ref, refId, Threshold,
          data.records.iterator.filterNot(x => touched(x.id)).map(x => x.id -> x.data),
          shared.versionsOf)))
    }
    val expect = Preload + shared.creates - shared.deletes
    val got = attempt(Res(ok = true, "", total = client.records())).total
    ctx.tally.outcome("Info.records", Check.recordCount(got, expect))
  }

  /** Preload, oracle lookup and the clients' checked warm-up ops. */
  private def setup(ctx: Ctx, data: Data, target: Target, clients: Seq[Client], hooks: Hooks,
      limit: Int = Int.MaxValue): (Shared, Seq[Replayer]) = {
    val pre = target.preload(data.records)
    require(pre.ok, s"preload failed: ${pre.msg}")
    val oid = clients.head.findOracle("findSimilar")
    val shared = new Shared(data)
    val barrier = new CyclicBarrier(Clients)
    val replayers = (0 until Clients).map(c =>
      new Replayer(ctx, data, shared, c, clients(c), oid, hooks, limit, barrier))
    closedLoop(Clients)(c => replayers(c).warmUp())
    (shared, replayers)
  }

  /** One replay from one preloaded store: a second preload would not fit
    * the run's time, so set-up is measured once here.
    */
  def run(ctx: Ctx): Outcome = {
    val data = new Data(ctx)
    val t0 = System.nanoTime()
    val target = Target("grpc", ctx.spark)
    val clients = (0 until Clients).map(_ => target.client())
    val (shared, replayers) = setup(ctx, data, target, clients, new Hooks(ctx.spark, None, "grpc"))
    val setupS = (System.nanoTime() - t0) / 1e9
    val start = System.nanoTime()
    closedLoop(Clients)(c => replayers(c).runAll())
    val measured = (System.nanoTime() - start) / 1e9
    finish(ctx, data, shared, clients.head)
    val heap = heapMb()
    clients.foreach(_.close()); target.close()
    val all = Ops.flatMap(op => ctx.tally.of(s"grpc.$op"))
    Outcome(Seq(
      Metric("ops_per_s", all.size / measured, "ops/s"),
      Metric("geo_p50_ms", Stats.geomean(Ops.map(op => Stats.median(ctx.tally.of(s"grpc.$op")))), "ms"),
      Metric("p90_ms", Stats.pct(all, 90), "ms"),
      Metric("heap_mb", heap, "MiB")),
      Some(setupS),
      ("samples" -> all.size) ~ ("supported_tail_pct" -> Stats.supportedTail(all.size)) ~
        ("samples_by_op" -> Ops.map(op => op -> ctx.tally.of(s"grpc.$op").size).toMap) ~
        ("p50_ms_by_op" -> Ops.map(op => op -> Stats.median(ctx.tally.of(s"grpc.$op"))).toMap) ~
        ("latencies_ms" -> Ops.map(op => op -> ctx.tally.of(s"grpc.$op").map(x => math.rint(x * 10) / 10)).toMap) ~
        ("setup_after_session_s" -> setupS) ~ ("measured_s" -> measured))
  }

  def traced(ctx: Ctx, tracer: Tracer, tap: SparkTap): Outcome = {
    val data = new Data(ctx)
    var written = 0L
    val (hooks, walls, untraced, store) = tracedReplays(ctx, tracer, tap, { (mode, hooks, target, begin) =>
      val clients = (0 until Clients).map(_ => target.client())
      val (shared, replayers) = setup(ctx, data, target, clients, hooks,
        if (mode == "grpc-warmup") 4 else TracedPerClient)
      begin()
      val start = System.nanoTime()
      closedLoop(Clients)(c => replayers(c).runAll())
      val wall = (System.nanoTime() - start) / 1e9
      if (mode == "store") written = shared.writtenBytes.get
      finish(ctx, data, shared, clients.head)
      clients.foreach(_.close())
      wall
    })
    val canon = tracer.named("oracle.run").filter(_.req.startsWith("store-")).map(_.ms)
    try Outcome(Serving.layerMetrics(ctx, tap, tracer, hooks, walls, untraced, Ops, store, written) ++
        (if (canon.isEmpty) Nil else Seq(Metric("oracle.canon_run_ms", Stats.median(canon), "ms"))),
      None, ("walls_s" -> walls) ~ ("untraced_wall_s" -> untraced))
    finally store.close()
  }
}
