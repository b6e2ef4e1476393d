package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import graft.api.{PerfHarness, RoutingEngine}
import graft.model.GtfsTables
import graft.projection.TimeExpandedGraph
import scala.collection.mutable

/** graft's benchmark runner: one workload, one seed, one JSON result.
  *
  * Every workload routes journeys on the Modena-cardinality synthetic feed
  * (`SyntheticGtfs.modena`: 250,000 stoptimes, 973,108 projected edges)
  * from one closed-loop client thread, timing calls into graft's public
  * API only. Set-up is session start, feed generation, one engine build
  * (walkTo, projection, local index) and the untimed warm-up ops; the
  * timed phase then routes seeded pairs until `--seconds` have passed.
  * Every timed op routes a pair for the first time in its run. Every op's
  * itinerary is checked (hop chain, ride clocks), the first timed pairs are
  * routed again after the timed phase and must repeat their digests, every
  * set-up routes the nine reference OD pairs against committed golden
  * digests, and regime guards fail the run when a gate drift changes what a
  * workload measures. `--trace 1` alternates traced and untraced rounds
  * and reports per-layer numbers instead.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --out FILE
  *   --golden FILE --scratch DIR
  */
object Main {
  val Day = "2024-01-18"
  val Radius = 300.0
  /** Grid-distance classes of the pool; the timed phase runs whole rounds
    * of one pair per class. */
  val Classes = 6
  /** Distinct OD pairs a run draws, more than any run routes, so every
    * timed op routes its pair for the first time: a repeated pair routes
    * markedly faster, and a mix of first and repeated routes makes the
    * median bimodal. */
  val PoolSize = 60 * Classes
  /** Timed pairs routed again, untimed, after the timed phase; each must
    * reproduce the digest of its timed op. */
  val Repeats = 3

  /** Whether timed op `i` of a traced run is traced: odd rounds are, so
    * traced and untraced ops both cover every distance class. */
  def tracedOp(i: Int): Boolean = (i / Classes) % 2 == 1

  /** `capped` forces the clock-capped driver-CSR regime through the
    * engine's public gate parameters (local gate 0, capped node floor 0);
    * `modena_p2p` keeps graft's default gates. Departures are drawn from
    * `hours`. */
  final case class Workload(name: String, capped: Boolean, hours: Range)

  val workloads: Map[String, Workload] = Seq(
    Workload("modena_p2p", capped = false, 7 to 12),
    // 07:xx departures all cap in the 12:00 bucket the golden pairs build
    Workload("modena_capped", capped = true, 7 to 7),
  ).map(w => w.name -> w).toMap

  final case class Pair(name: String, sLat: Double, sLon: Double,
      eLat: Double, eLon: Double, time: String)

  /** The reference's nine measurement pairs (`gtfs_modena_harness`). */
  val goldenPairs: Seq[Pair] = {
    def pt(r: Int, c: Int) = (44.5 + r * 0.0032, 10.8 + c * 0.01)
    Seq(("p1-samecol-short", (2, 2), (6, 2)), ("p2-near-diag", (0, 0), (10, 5)),
      ("p3-samecol-mid", (5, 10), (20, 10)), ("p4-samerow-long", (10, 0), (10, 20)),
      ("p5-diag-mid", (0, 0), (25, 25)), ("p6-cross-far", (45, 5), (5, 45)),
      ("p7-offdiag", (40, 10), (45, 40)), ("p8-backwards", (30, 30), (5, 15)),
      ("p9-corner-corner", (49, 49), (0, 0))).map { case (n, a, b) =>
      val (al, ao) = pt(a._1, a._2); val (bl, bo) = pt(b._1, b._2)
      Pair(n, al, ao, bl, bo, "08:00:00")
    }
  }

  /** Seeded OD pairs, stratified so every seed routes the same mix: pair i
    * spans grid distance 4 + 12·(i mod 6) stops (rows + columns, split and
    * signed at random) and departs at a random minute of an hour that
    * rotates with the round, `hours((i + i / 6) mod hours.size)`. Each end
    * sits within ~160 m of its grid stop, inside the 300 m search radius. */
  def pool(seed: Long, hours: Range): Seq[Pair] = {
    val rnd = new java.util.Random(seed)
    def at(r: Int, c: Int): (Double, Double) =
      (44.5 + r * 0.0032 + (rnd.nextDouble() * 2 - 1) * 0.001,
        10.8 + c * 0.01 + (rnd.nextDouble() * 2 - 1) * 0.0015)
    (0 until PoolSize).map { i =>
      val d = 4 + 12 * (i % Classes)
      var ends: Option[(Int, Int, Int, Int)] = None
      while (ends.isEmpty) {
        val r = rnd.nextInt(50); val c = rnd.nextInt(50)
        val dr = rnd.nextInt(d + 1)
        val r2 = r + (if (rnd.nextBoolean()) dr else -dr)
        val c2 = c + (if (rnd.nextBoolean()) d - dr else dr - d)
        if (r2 >= 0 && r2 < 50 && c2 >= 0 && c2 < 50) ends = Some((r, c, r2, c2))
      }
      val (r, c, r2, c2) = ends.get
      val (sl, so) = at(r, c); val (el, eo) = at(r2, c2)
      // never on the hour: hh:00:00 caps one clock-cap bucket earlier
      val t = f"${hours((i + i / Classes) % hours.size)}%02d:${rnd.nextInt(60)}%02d:${1 + rnd.nextInt(59)}%02d"
      Pair(s"s$seed-$i", sl, so, el, eo, t)
    }
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val w = workloads.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}; known: ${workloads.keys.mkString(", ")}"))
    val scratch = new java.io.File(opt("scratch")).getAbsoluteFile
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(scratch, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"[perfbench] session up after ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // codegen/shuffle warm-up, as in graft.Bench
    spark.range(1000).repartition(4).groupBy((org.apache.spark.sql.functions
      .col("id") % 10).as("k")).count().collect()
    val run = new Run(spark, w, opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", java.nio.file.Paths.get(opt("golden")), scratch)
    val result = try run.execute(t0) finally spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
      result.getBytes("UTF-8"))
  }
}

/** One workload run. */
final class Run(spark: SparkSession, w: Main.Workload, seed: Long,
    seconds: Int, traced: Boolean, goldenPath: java.nio.file.Path,
    scratch: java.io.File) {
  import Main._

  private val tr = new Trace
  private val counters = if (traced) Some(SparkCounters.install(spark.sparkContext)) else None
  private var attempted = 0
  private var failed = 0

  private def problem(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  // ---- inputs -------------------------------------------------------------

  private def generateFeed(): GtfsTables = tr.span("etl.generate") {
    val raw = graft.etl.SyntheticGtfs.modena(spark)
    val feed = raw.copy(stopTimes = raw.stopTimes.cache(), stops = raw.stops.cache())
    feed.stopTimes.count(); feed.stops.count()
    feed
  }

  private def engine(feed: GtfsTables): RoutingEngine =
    if (w.capped) new RoutingEngine(feed, ssspLocalThreshold = 0L, cappedSliceMinNodes = 0L)
    else new RoutingEngine(feed)

  /** walkTo, projection and local index: the calls PerfHarness warms. */
  private def project(eng: RoutingEngine): TimeExpandedGraph = {
    tr.span("etl.walk_to") { eng.walkTo.count() }
    val g = tr.span("projection.build") {
      eng.projected(java.sql.Date.valueOf(Day), 1.0) }
    tr.span("projection.local_index") {
      g.localIndex match {
        case Some(ix) => ix.byName; ix.stopDim
        case None => g.stopDim.count()
      }
    }
    // regime guards: a gate drift must fail the run, not re-label it
    if (w.capped && g.localIndex.isDefined)
      throw new IllegalStateException("modena_capped routed local: the local gate drifted")
    if (!w.capped && g.localIndex.isEmpty)
      throw new IllegalStateException("modena_p2p left the local regime: the 2M-edge gate drifted")
    g
  }

  // ---- one routing call and its checks ------------------------------------

  final case class Routed(ms: Double, rows: Array[Row], routed: Boolean,
      servedCapped: Long)

  private def route(eng: RoutingEngine, p: Pair): Routed = {
    val served0 = eng.evidence.cappedCsrServed.get()
    val t0 = System.nanoTime()
    def near(lat: Double, lon: Double): Seq[String] = tr.span("api.near_stops") {
      eng.findNearStops(Day, lat, lon, Radius).collect().map(_.getString(0)).toSeq
    }
    val s = near(p.sLat, p.sLon)
    val e = near(p.eLat, p.eLon)
    val routed = s.nonEmpty && e.nonEmpty
    val rows = tr.span("api.route") {
      if (!routed) Array.empty[Row]
      else eng.routingBetweenTwoPoints(Day, p.sLat, p.sLon, p.eLat, p.eLon, s, e,
        1.0, p.time).collect()
    }
    Routed((System.nanoTime() - t0) / 1e6, rows, routed,
      eng.evidence.cappedCsrServed.get() - served0)
  }

  /** Hop chain and ride clocks of an itinerary; None when valid. */
  private def chainError(rows: Array[Row]): Option[String] = {
    def secs(r: Row, f: String) = graft.functions.TimeFunctions.parseHms(r.getAs[String](f))
    val hops = rows.map(_.getAs[Int]("hop")).toSeq
    if (hops != (1 to rows.length)) return Some(s"hops not 1..n: $hops")
    rows.zip(rows.drop(1)).zipWithIndex.foreach { case ((a, b), i) =>
      if (a.getAs[String]("next_stop_id") != b.getAs[String]("starting_stop_id") ||
          a.getAs[String]("next_trip") != b.getAs[String]("trip"))
        return Some(s"segment ${i + 1} does not end where segment ${i + 2} starts")
    }
    // ride segments (same trip both ends) in hop order: departure ≤ arrival,
    // and each ride starts no earlier than the previous one ended (a
    // transfer edge only boards a departure after the arrival it leaves)
    val clocks = rows.filter(r => r.getAs[String]("trip") == r.getAs[String]("next_trip"))
      .flatMap(r => Seq(secs(r, "departure"), secs(r, "arrival")))
    if (clocks.zip(clocks.drop(1)).exists { case (a, b) => b < a })
      return Some(s"ride clocks not monotone: ${clocks.mkString(",")}")
    None
  }

  private val seen = mutable.HashMap.empty[String, Long]

  /** Checks one routing result; returns false (and counts the failure) on
    * an unrouted op or empty itinerary (every seeded end lies near a stop),
    * a bad chain, a digest that differs from an earlier run of the same
    * key, or a missed capped-regime guard. */
  private def check(key: String, r: Routed): Boolean = {
    attempted += 1
    val dg = PerfHarness.itineraryDigest(r.rows)
    val err = (if (!r.routed) Some("no stop within the search radius of an end")
        else if (r.rows.isEmpty) Some("empty itinerary") else None)
      .orElse(chainError(r.rows))
      .orElse(seen.get(key).filter(_ != dg).map(d => s"digest $dg != earlier $d"))
      .orElse(if (w.capped && r.routed && r.servedCapped != 1)
        Some(s"capped CSR served ${r.servedCapped} runs, expected 1") else None)
    seen.getOrElseUpdate(key, dg)
    err.foreach { m => failed += 1; problem(s"$key: $m") }
    err.isEmpty
  }

  private def fail(key: String, t: Throwable): Unit = {
    attempted += 1; failed += 1
    problem(s"$key: ${t.getClass.getSimpleName}: ${t.getMessage}")
  }

  // ---- golden pairs -------------------------------------------------------

  /** golden.json: (digest, segments) per reference pair. A mismatch prints
    * the new pair, from which the file is edited when an itinerary change is
    * intended. */
  private val golden: Map[String, (Long, Int)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(goldenPath), "UTF-8")
    "\"([^\"]+)\":\\s*\\{\"digest\":\\s*(-?\\d+),\\s*\"segments\":\\s*(\\d+)\\}".r
      .findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toInt))
      .toMap
  }

  private def routeGolden(eng: RoutingEngine): Unit = goldenPairs.foreach { p =>
    try {
      val r = route(eng, p)
      noteBucket(p, r)
      if (check(p.name, r)) {
        val got = (PerfHarness.itineraryDigest(r.rows), r.rows.length)
        if (!golden.get(p.name).contains(got)) {
          failed += 1
          problem(s"${p.name}: itinerary $got differs from golden ${golden.get(p.name)}")
        }
      }
    } catch { case t: Throwable => fail(p.name, t) }
  }

  // ---- capped buckets -----------------------------------------------------

  /** Capped slices are memoized per clock-cap hour: the cap is the route's
    * 4 h horizon end rounded up to the hour. A fresh projection starts with
    * none, so the first op of each hour on an engine is a miss. */
  private val buckets = mutable.HashSet.empty[Long]
  private val missMs = mutable.ArrayBuffer.empty[Double]
  private val hitMs = mutable.ArrayBuffer.empty[Double]

  private def bucketOf(p: Pair): Long =
    math.ceil((graft.functions.TimeFunctions.parseHms(p.time) + 4 * 3600L) / 3600.0).toLong

  private def noteBucket(p: Pair, r: Routed): Unit = if (w.capped && r.routed) {
    val hit = !buckets.add(bucketOf(p))
    (if (hit) hitMs else missMs) += r.ms
  }

  // ---- the run ------------------------------------------------------------

  /** `t0`: the nanoTime before the session started. */
  def execute(t0: Long): String = {
    tr.enabled = traced
    var eng: RoutingEngine = null
    var guard: Option[String] = None
    val opMs = mutable.LinkedHashMap.empty[Int, (Double, Boolean)] // op -> (latency, traced)
    val segs = mutable.ArrayBuffer.empty[Int]
    var routed = 0L; var served = 0L
    var projNodes = 0L; var projEdges = 0L
    var heapMb = 0.0
    var timedS = 0.0
    var setupS = 0.0
    try {
      // set-up: feed, engine, projection, then the untimed warm-up ops: the
      // golden pairs and, on the capped regime, one pair per cap bucket the
      // timed pairs touch that the golden pairs did not build, so the timed
      // phase measures hits at a steady rate. Warm-up pairs come from the
      // end of the pool, which the timed phase never reaches
      tr.beginOp(-1)
      eng = engine(generateFeed())
      project(eng)
      // api spans come from timed ops only
      tr.enabled = false
      routeGolden(eng)
      val pairs = pool(seed, w.hours)
      if (w.capped) pairs.filterNot(p => buckets.contains(bucketOf(p)))
        .groupBy(bucketOf).toSeq.sortBy(_._1).map(_._2.last).foreach { p =>
          try {
            val r = route(eng, p)
            noteBucket(p, r)
            check(p.name, r)
          } catch { case t: Throwable => fail(p.name, t) }
        }
      val g = eng.projected(java.sql.Date.valueOf(Day), 1.0)
      val start = System.nanoTime()
      setupS = (start - t0) / 1e9
      val deadline = start + seconds * 1000000000L
      var i = 0
      var end = start
      // whole rounds of the distance classes, at least one, so every run
      // routes the same mix; a traced run ends after an even number of
      // rounds, so it has as many traced as untraced ops. The last round
      // may run past the deadline
      val block = if (traced) 2 * Classes else Classes
      while (end < deadline || i % block != 0) {
        val p = pairs(i % PoolSize)
        val on = traced && tracedOp(i)
        tr.enabled = on
        tr.beginOp(i)
        val wall0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try {
          val r = tr.span("op") { route(eng, p) }
          val ms = (System.nanoTime() - t0) / 1e6
          if (on) counters.foreach(_.window(s"op-$i", wall0, System.currentTimeMillis()))
          noteBucket(p, r)
          if (r.routed) { routed += 1; served += r.servedCapped }
          if (check(p.name, r)) { opMs(i) = (ms, on); segs += r.rows.length }
        } catch { case t: Throwable => fail(s"op-$i", t) }
        end = System.nanoTime()
        i += 1
      }
      timedS = (end - start) / 1e9
      tr.enabled = false
      if (eng.evidence.acyclicResolveServed.get() != 0)
        guard = Some("acyclic re-resolve served on a clean feed")
      heapMb = retainedHeapMb()
      // digest stability: the same pair routed again must give the same
      // itinerary
      pairs.take(Repeats).foreach { p =>
        try check(p.name, route(eng, p))
        catch { case t: Throwable => fail(p.name, t) }
      }
      if (traced) { projNodes = g.nodes.count(); projEdges = g.edges.count() }
    } catch {
      case t: Throwable =>
        guard = Some(s"${t.getClass.getSimpleName}: ${t.getMessage}")
    } finally if (eng != null) eng.close()
    guard.foreach(problem)

    val lat = opMs.values.map(_._1).toSeq
    val correct = guard.isEmpty && failed == 0 && lat.nonEmpty
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("query_p50_ms", Stats.median(lat), "ms"),
        ("queries_per_s", lat.size / timedS, "1/s"),
        ("retained_heap_mb", heapMb, "MB"))
      else layerMetrics(opMs.toMap, segs.toSeq, routed, served, projNodes, projEdges)
    if (traced) {
      val f = new java.io.File(scratch, s"trace-${w.name}-$seed.jsonl")
      tr.write(f.toPath)
      System.err.println(s"[perfbench] ${tr.spans.size} spans written to $f")
    }
    System.err.println(f"[perfbench] ${w.name} seed=$seed: set-up $setupS%.1f s, " +
      f"${lat.size} timed ops in $timedS%.1f s, $failed failed of $attempted")
    System.err.println("[perfbench] op ms: " + lat.map(x => f"$x%.0f").mkString(" "))
    metrics.foreach { case (n, v, u) => System.err.println(f"[perfbench]   $n%-34s $v%14.4f $u") }
    val m = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${attempted.max(1)}, "failed": $failed, "metrics": {$m}}"""
  }

  /** Driver heap still in use after a full collection: the caches and
    * pinned state the engine holds between queries. */
  private def retainedHeapMb(): Double = {
    // Spark's cleaner frees blocks of collected references asynchronously
    // after a GC, so collect a few times and keep the lowest reading
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200); System.gc()
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  private def layerMetrics(ops: Map[Int, (Double, Boolean)], segs: Seq[Int], routed: Long,
      served: Long, nodes: Long, edges: Long): Seq[(String, Double, String)] = {
    import Stats.median
    val spark = counters.map(_.perKey()).getOrElse(Nil)
    def perOp(f: SparkCounters.OpStats => Double) = median(spark.map(f))
    val (on, off) = ops.values.partition(_._2)
    val overhead = median(on.map(_._1).toSeq) - median(off.map(_._1).toSeq)
    def s(name: String) = median(tr.durationsOf(name)) / 1000.0
    Seq(
      ("etl.generate_s", s("etl.generate"), "s"),
      ("etl.walk_to_s", s("etl.walk_to"), "s"),
      ("projection.build_s", s("projection.build"), "s"),
      ("projection.local_index_s", s("projection.local_index"), "s"),
      ("projection.nodes", nodes.toDouble, "count"),
      ("projection.edges", edges.toDouble, "count"),
      ("api.near_stops_ms", median(tr.durationsOf("api.near_stops")), "ms"),
      ("api.route_ms", median(tr.durationsOf("api.route")), "ms"),
      ("api.segments_per_query", median(segs.map(_.toDouble)), "count"),
      ("op.self_ms", median(tr.selfOf("op")), "ms"),
      ("graph.capped_csr_served_ratio", if (routed == 0) 0.0 else served.toDouble / routed, "ratio"),
      ("graph.bucket_hit_ratio",
        if (hitMs.isEmpty && missMs.isEmpty) 0.0
        else hitMs.size.toDouble / (hitMs.size + missMs.size), "ratio"),
      ("graph.bucket_miss_ms", median(missMs.toSeq), "ms"),
      ("graph.bucket_hit_ms", median(hitMs.toSeq), "ms"),
      ("spark.jobs_per_op", perOp(_.jobs.toDouble), "count"),
      ("spark.stages_per_op", perOp(_.stages.toDouble), "count"),
      ("spark.tasks_per_op", perOp(_.tasks.toDouble), "count"),
      ("spark.shuffle_write_bytes_per_op", perOp(_.shuffleWriteBytes.toDouble), "bytes"),
      ("spark.executor_run_ms_per_op", perOp(_.executorRunMs.toDouble), "ms"),
      ("spark.driver_gap_ms_per_op", perOp(_.driverGapMs.toDouble), "ms"),
      ("trace.overhead_ms", overhead, "ms"),
      ("error_rate", failed.toDouble / attempted.max(1), "ratio"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
