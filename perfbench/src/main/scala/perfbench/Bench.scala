package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.IngestJob
import graft.config.DatasetSpec
import graft.operators.{KeyedStore, Reshape}
import graft.sources.WideMatrix

/** Input sizes of one workload. */
final case class Sizes(
    stations: Int,
    days: Int, // daily columns of the bulk by-name matrix
    months: Int, // monthly columns (backfill only)
    window: Int, // columns of a rolling by-position file (daily_cadence)
    naFrac: Double,
    setupReps: Int,
    warmups: Int, // discarded ops before measuring
    minOps: Int, // timed ops run even when `--seconds` has passed
    countedOps: Int) // traced ops whose engine counts are reported

object Sizes {
  def apply(workload: String, smoke: Boolean): Sizes = (workload, smoke) match {
    case ("backfill", false) => Sizes(500, 30, 12, 0, 0.35, 3, 1, 2, 1)
    case ("daily_cadence", false) => Sizes(500, 60, 0, 365, 0.35, 3, 5, 3, 3)
    case ("store_reads", false) => Sizes(500, 60, 0, 0, 0.35, 3, 4, 1, 1)
    case ("backfill", true) => Sizes(20, 10, 3, 0, 0.35, 1, 0, 1, 1)
    case ("daily_cadence", true) => Sizes(20, 10, 0, 20, 0.35, 1, 0, 2, 2)
    case ("store_reads", true) => Sizes(20, 10, 0, 0, 0.35, 1, 0, 1, 1)
    case (w, _) => throw new IllegalArgumentException(s"unknown workload: $w")
  }
}

/** Expected `FileResult` of one `runFile` call. */
final case class Expect(created: Long, replaced: Long, unchanged: Long, metadataRows: Long)

/** One file to ingest, with the dataset spec `runFile` gets for it. */
final case class FileJob(kind: String, ds: DatasetSpec, file: String, byPosition: Boolean,
    stations: Int, expect: Expect)

/** The traced decomposition of one `runFile` call. */
final case class FileTrace(kind: String, file: Span, readCsv: Span, metadata: Option[Span],
    mergeMetadata: Option[Span], valuesWide: Span, pipeline: Span, mergeValues: Span,
    runFile: Span, counted: Boolean, csvBytes: Long, dateCols: Int, inRangeCols: Int,
    cellsIn: Long, rowsOut: Long, filesWritten: Int, partitionsTouched: Int)

/** One traced read call. */
final case class ReadTrace(kind: String, call: Span, counted: Boolean,
    filesRead: Long, rowsRead: Long, rowsReturned: Long)

/**
 * The benchmark's three workloads. Each runs a closed loop of one client
 * (this thread) against the program's public entry points, checks every
 * op against the generator's ground truth, and fills `endToEnd`, `detail`
 * and, when traced, `layers`.
 */
final class Bench(spark: SparkSession, tracer: Tracer, work: File, seed: Long,
    seconds: Double, sizes: Sizes) {
  import Bench._

  private val traced = tracer.enabled
  private val rng = new java.util.SplittableRandom(seed * 7919 + 17)

  // ---- op accounting ----------------------------------------------------

  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  private var opFailed = false

  /** One checked op: failed if it throws or any `check` inside it fails.
    * An op that completes keeps its result (its timing) even when a check
    * failed, so a wrong answer still yields a result line. */
  private def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    opFailed = false
    val r = try Some(body) catch {
      case NonFatal(e) => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None
    }
    if (opFailed) failed += 1
    r
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  private def fail(msg: String): Unit = {
    opFailed = true
    if (failures.length < 20) failures += msg.take(300)
  }

  // ---- outputs ----------------------------------------------------------

  /** name -> (value, unit): the end-to-end metrics, and the per-layer
    * metrics a traced run adds. */
  val endToEnd = LinkedHashMap[String, (Double, String)]()
  val layers = LinkedHashMap[String, (Double, String)]()
  val detail = LinkedHashMap[String, Any]()
  private def put(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  private def putLayer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  private val fileTraces = ArrayBuffer[FileTrace]()
  private val readTraces = ArrayBuffer[ReadTrace]()
  private val allCompleteSpans = ArrayBuffer[Span]()
  private val listSpans = ArrayBuffer[Span]()
  private var layout = StoreLayout(Map.empty)

  private val phases = LinkedHashMap[String, Double]()
  detail("phase_end_s") = phases
  /** Records when a phase of the run ended (seconds since the JVM started). */
  def phase(name: String): Unit = phases(name) = Main.processSeconds

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def fresh(name: String): File = {
    val d = new File(work, name)
    Files2.deleteTree(d)
    d
  }

  /** Jobs of a tiny backfill: 20 stations, 5 days, 2 months. */
  private lazy val tiny: Seq[FileJob] =
    backfillInputs(new Gen(seed + 1, 20, sizes.naFrac), fresh("inputs_tiny"), 5, 2)

  /** Runs the tiny backfill's first `files` jobs on a throwaway store. The
    * first Spark jobs of a process pay for class loading, code generation
    * and JIT compilation; this puts that cost before anything is timed. */
  private def warmUp(files: Int): Unit = {
    val root = fresh("warmup").getPath
    tiny.take(files).foreach { j =>
      if (ingest(root, j).isEmpty) throw new IllegalStateException("warm-up load failed")
    }
    Files2.deleteTree(new File(root))
  }

  /** Runs `setup` `sizes.setupReps` times, reporting the median as
    * `setup_s`; returns the last result. */
  private def setupReps[T](setup: Int => T): T = {
    phase("before_setup")
    val runs = (0 until sizes.setupReps).map(r => timed(setup(r)))
    phase("setup")
    detail("setup_runs_s") = runs.map(_._2)
    put("setup_s", Stats.median(runs.map(_._2)), "s")
    runs.last._1
  }

  // ---- ingestion ----------------------------------------------------------

  private def checkResult(job: FileJob, created: Long, replaced: Long, unchanged: Long,
      metadataRows: Long): Unit = {
    val got = Expect(created, replaced, unchanged, metadataRows)
    check(got == job.expect, s"${job.kind}: runFile returned $got, expected ${job.expect}")
  }

  /** Untraced `runFile`; returns its wall time. */
  private def ingest(root: String, job: FileJob): Option[Double] =
    op(s"runFile ${job.kind}") {
      val (r, s) = timed(IngestJob.runFile(spark, job.ds, job.file, root, Location,
        job.byPosition))
      checkResult(job, r.created, r.replaced, r.unchanged, r.metadataRows)
      s
    }

  /**
   * Traced ingestion: the layers `runFile` calls, in its order and each in
   * its own span, against store `rootA`; then the untraced `runFile` on its
   * twin store `rootB`, which has seen the same files. The two must agree
   * on every count. Returns the `runFile` wall time.
   */
  private def ingestTraced(rootA: String, rootB: String, job: FileJob,
      counted: Boolean): Option[Double] = op(s"traced ${job.kind}") {
    tracer.newTrace()
    val valuesA = IngestJob.valuesDir(rootA)
    val before = StoreLayout.walk(valuesA)
    var rowsOut = 0L
    var dateCols, inRangeCols = 0
    val ((mergeStats, metaRows, sRead, sMeta, sMergeMeta, sWide, sPipe, sMerge), sFile) =
      tracer.span("ingest_job.file") {
        val (wide, sRead) = tracer.span("wide_matrix.read_csv")(WideMatrix.readCsv(spark, job.file))
        val cols = wide.columns.toSeq
        val cls =
          if (job.byPosition) WideMatrix.classifyByPosition(cols, job.ds)
          else WideMatrix.classifyByName(cols, job.ds)
        dateCols = cols.count(c => graft.dates.PeriodDates.isHeaderDate(c, job.ds.period))
        inRangeCols = cls.valueCols.length
        val meta =
          if (job.ds.writeMetadata && !job.byPosition) {
            val (m, sMeta) = tracer.span("wide_matrix.metadata")(
              WideMatrix.metadata(wide, job.ds, Location))
            val (st, sMergeMeta) = tracer.span("keyed_store.merge_metadata")(
              KeyedStore.mergeIntoTable(m, IngestJob.metadataDir(rootA), Seq("skn"),
                partitionCol = None))
            Some((st.incrementRows, sMeta, sMergeMeta))
          } else None
        val (vw, sWide) = tracer.span("wide_matrix.values_wide")(
          WideMatrix.valuesWide(wide, job.ds, job.byPosition))
        val (pipe, sPipe) = tracer.span("reshape.pipeline") {
          val p = Reshape.pipeline(vw, job.ds)
          val obs = Observation("reshape_rows")
          p.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
          rowsOut = obs.get("n").asInstanceOf[Long]
          p
        }
        val (st, sMerge) = tracer.span("keyed_store.merge_values")(
          KeyedStore.mergeIntoTable(pipe, valuesA, job.ds.keyFields,
            partitionCol = Some("date"), replace = job.ds.replaceDuplicates))
        (st, meta.fold(0L)(_._1), sRead, meta.map(_._2), meta.map(_._3), sWide, sPipe, sMerge)
      }
    val (filesWritten, partsTouched) = StoreLayout.walk(valuesA).diff(before)
    val (r, sRun) = tracer.span("ingest_job.run_file")(
      IngestJob.runFile(spark, job.ds, job.file, rootB, Location, job.byPosition))
    val untraced = KeyedStore.MergeStats(r.created, r.replaced, r.unchanged)
    check(mergeStats == untraced && metaRows == r.metadataRows,
      s"${job.kind}: traced decomposition gave $mergeStats/$metaRows, runFile $untraced/${r.metadataRows}")
    checkResult(job, r.created, r.replaced, r.unchanged, r.metadataRows)
    fileTraces += FileTrace(job.kind, sFile, sRead, sMeta, sMergeMeta, sWide, sPipe, sMerge, sRun,
      counted, new File(job.file).length, dateCols, inRangeCols,
      inRangeCols.toLong * job.stations, rowsOut, filesWritten, partsTouched)
    sRun.seconds
  }

  private def allComplete(root: String): Option[Double] = op("allComplete") {
    val (ok, s) = tracer.span("ingest_job.all_complete")(IngestJob.allComplete(spark, root))
    if (traced) allCompleteSpans += s
    check(ok, "allComplete returned false")
    s.seconds
  }

  private def storeRows(root: String, expected: Long): Unit = op("store row count") {
    val n = spark.read.parquet(IngestJob.valuesDir(root)).count()
    check(n == expected, s"store holds $n value rows, expected $expected")
  }

  /** Ingests with the untraced path, or the traced pair of stores. */
  private def ingestAny(root: String, job: FileJob, counted: Boolean): Option[Double] =
    if (traced) ingestTraced(root, root + "_twin", job, counted) else ingest(root, job)

  private def twinRoot(root: String): String = if (traced) root + "_twin" else root

  private def deleteStore(root: String): Unit = {
    Files2.deleteTree(new File(root))
    Files2.deleteTree(new File(root + "_twin"))
  }

  private def byNameSpec(file: String, period: String) = DatasetSpec(files = Seq(file),
    datatype = Gen.Datatype, period = period, fill = Gen.Fill, dataColStart = 13, idCol = 0)

  /** Writes a by-name matrix of `dates` from `cells(dayIndex)(station)`;
    * returns the job expecting an all-create bulk load. */
  private def bulkFile(gen: Gen, path: String, kind: String, dates: Seq[LocalDate],
      period: String, cells: IndexedSeq[Array[Int]]): FileJob = {
    gen.writeByName(path, dates, period)((i, k) => cells(k)(i))
    val rows = cells.map(_.count(_ != Gen.NA).toLong).sum
    FileJob(kind, byNameSpec(path, period), path, byPosition = false, gen.stations,
      Expect(rows, 0, 0, gen.stations))
  }

  private def cellsOf(gen: Gen, dates: Seq[LocalDate]): IndexedSeq[Array[Int]] =
    dates.map(d => Array.tabulate(gen.stations)(i => gen.cell(i, d))).toIndexedSeq

  private def recordLayout(root: String, phase: String): StoreLayout = {
    val l = StoreLayout.walk(IngestJob.valuesDir(root))
    detail(s"layout_$phase") = Map("partitions" -> l.partitions, "files" -> l.fileCount,
      "bytes" -> l.bytes)
    layout = l
    l
  }

  /** The timed loop: runs `step(n, counted)` for n = 0, 1, ... until at
    * least `sizes.minOps` steps have run and `seconds` have passed, always
    * finishing the step it is in. Returns the loop's wall time. */
  private def timedLoop(step: (Int, Boolean) => Unit): Double = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < sizes.minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      step(n, n < sizes.countedOps)
      n += 1
    }
    phase("loop")
    (System.nanoTime() - t0) / 1e9
  }

  /** Op-latency metrics shared by every workload. Rates are per second of
    * op time, so the benchmark's own work between ops (writing inputs,
    * checks, listing) does not count. */
  private def putOps(opSeconds: Seq[Double], rows: Double, loopSeconds: Double): Unit = {
    if (opSeconds.isEmpty) throw new IllegalStateException("no op completed")
    val (tail, pct, beyond) = Stats.tail(opSeconds)
    put("op_p50_s", Stats.median(opSeconds), "s")
    put("ops_per_s", opSeconds.length / opSeconds.sum, "1/s")
    put("rows_per_s", rows / opSeconds.sum, "1/s")
    detail("ops") = opSeconds.length
    detail("loop_s") = loopSeconds
    detail("op_s") = opSeconds
    detail("op_tail_s") = tail
    detail("op_tail_percentile") = pct
    detail("op_tail_samples_beyond") = beyond
  }

  // ---- backfill ---------------------------------------------------------

  /** Daily and monthly by-name matrices over `days` and `months` columns;
    * the third job replays the daily one and expects it all-unchanged. */
  private def backfillInputs(gen: Gen, dir: File, days: Int, months: Int): Seq[FileJob] = {
    val dayDates = Gen.days(LocalDate.of(2019, 1, 1), days)
    val monthDates = Gen.months(LocalDate.of(2019, 1, 1), months)
    val daily = bulkFile(gen, s"$dir/daily_${Gen.Datatype}.csv", "bulk_daily", dayDates,
      Gen.Day, cellsOf(gen, dayDates))
    val monthly = bulkFile(gen, s"$dir/monthly_${Gen.Datatype}.csv", "bulk_monthly",
      monthDates, Gen.Month, cellsOf(gen, monthDates))
    Seq(daily, monthly, daily.copy(kind = "replay",
      expect = Expect(0, 0, daily.expect.created, gen.stations)))
  }

  /**
   * Empty store → bulk by-name daily matrix → bulk monthly matrix → replay
   * of the daily matrix (all-unchanged) → allComplete. One op is one such
   * cycle on a fresh store; at least `sizes.minOps` cycles run, and more
   * until the time is up. A tiny
   * cycle first warms every code path a cycle takes. The store starts
   * empty, so set-up writes the inputs and bulk-loads the tiny daily matrix
   * into a throwaway store.
   */
  def backfill(): Unit = {
    val gen = new Gen(seed, sizes.stations, sizes.naFrac)
    (0 until sizes.warmups).foreach(_ => warmUp(tiny.length))
    val Seq(daily, monthly, replay) = setupReps { r =>
      val jobs = backfillInputs(gen, fresh(s"inputs$r"), sizes.days, sizes.months)
      warmUp(1)
      jobs
    }
    phase("warmup")
    val liveRows = daily.expect.created + monthly.expect.created

    def cycle(c: Int, counted: Boolean): Option[(Double, Double)] = {
      val root = fresh(s"store$c").getPath
      val bulk = Seq(daily, monthly).map(ingestAny(root, _, counted))
      recordLayout(twinRoot(root), "bulk")
      val rep = ingestAny(root, replay, counted)
      val ac = allComplete(twinRoot(root))
      storeRows(twinRoot(root), liveRows)
      recordLayout(twinRoot(root), "replay")
      deleteStore(root)
      if (bulk.forall(_.isDefined) && ac.isDefined) rep.map((bulk.flatten.sum, _)) else None
    }

    val done = ArrayBuffer[(Double, Double)]()
    val wall = timedLoop((c, counted) => cycle(c, counted).foreach(done += _))
    val rowsPerCycle = liveRows + daily.expect.created
    putOps(done.map { case (b, r) => b + r }.toSeq, rowsPerCycle.toDouble * done.length, wall)
    put("store_bytes_per_row", layout.bytes.toDouble / liveRows, "B")
    detail("backfill_rows_per_s") = liveRows * done.length / done.map(_._1).sum
    detail("replay_rows_per_s") = daily.expect.created * done.length / done.map(_._2).sum
    detail("store_bytes_per_row") = layout.bytes.toDouble / liveRows
    detail("live_rows") = liveRows
  }

  // ---- daily cadence ----------------------------------------------------

  /**
   * Preloaded store (bulk by-name daily matrix), then "yesterday"
   * increments: each a rolling by-position file of `sizes.window` days with
   * `start_date = end_date = day`, for the day after the last stored one
   * (create path), as the reference's daily schedule ingests. One op is one
   * increment. After the timed loop, one re-delivery of a stored day with
   * revised values takes the replace path: it is checked and traced, but
   * reported only in `detail`, since no source gives how often re-deliveries
   * happen or how many cells they revise.
   */
  def dailyCadence(): Unit = {
    val gen = new Gen(seed, sizes.stations, sizes.naFrac)
    val start = LocalDate.of(2019, 1, 1)
    val preloadDates = Gen.days(start, sizes.days)
    val truth = ArrayBuffer[Array[Int]]() // by day index from `start`
    warmUp(1)
    val root = setupReps { r =>
      val dir = fresh(s"inputs$r")
      val cells = cellsOf(gen, preloadDates)
      val job = bulkFile(gen, s"$dir/preload.csv", "preload", preloadDates, Gen.Day, cells)
      val root = fresh(s"store$r").getPath
      if (ingest(root, job).isEmpty) throw new IllegalStateException("preload failed")
      truth.clear()
      truth ++= cells
      root
    }
    if (traced) Files2.copyTree(new File(root), new File(root + "_twin"))

    var revision = 0
    /** Next increment: its file job, the day and the day's new cells. */
    def nextIncrement(redeliver: Boolean): (FileJob, Int, Array[Int]) = {
      val dayIdx = if (redeliver) truth.length - 4 else truth.length
      val day = start.plusDays(dayIdx)
      revision += 1
      val cells: Array[Int] =
        if (!redeliver) Array.tabulate(gen.stations)(i => gen.cell(i, day))
        else Array.tabulate(gen.stations) { i =>
          val old = truth(dayIdx)(i)
          if (old != Gen.NA && gen.revises(i, day, revision)) gen.revised(i, day, old, revision)
          else old
        }
      val windowDates = Gen.days(day.minusDays(sizes.window - 1), sizes.window)
      val path = s"$work/incoming/rolling_${Gen.iso(day, Gen.Day)}_r$revision.csv"
      gen.writeByPosition(path, windowDates) { (i, k) =>
        val d = windowDates(k)
        val idx = (d.toEpochDay - start.toEpochDay).toInt
        if (d == day) cells(i)
        else if (idx >= 0 && idx < truth.length) truth(idx)(i)
        else gen.cell(i, d, salt = 50)
      }
      val nonNa = cells.count(_ != Gen.NA).toLong
      val expect =
        if (!redeliver) Expect(nonNa, 0, 0, 0)
        else {
          val changed = cells.indices.count(i => cells(i) != truth(dayIdx)(i)).toLong
          Expect(0, changed, nonNa - changed, 0)
        }
      val ds = DatasetSpec(files = Seq(path), datatype = Gen.Datatype, period = Gen.Day,
        fill = Gen.Fill, dataColStart = 1, idCol = 0, startDate = Some(day),
        endDate = Some(day), writeMetadata = false)
      (FileJob(if (redeliver) "redeliver" else "new_day", ds, path, byPosition = true,
        gen.stations, expect), dayIdx, cells)
    }

    def increment(redeliver: Boolean, counted: Boolean): Option[(Double, Long)] = {
      val (job, dayIdx, cells) = nextIncrement(redeliver)
      val r = ingestAny(root, job, counted)
      // the store now holds the delivered cells whether or not the op was
      // judged correct; later expectations follow the delivered data
      if (dayIdx == truth.length) truth += cells else truth(dayIdx) = cells
      r.map(s => (s, job.expect.created + job.expect.replaced + job.expect.unchanged))
    }

    (0 until sizes.warmups).foreach(_ => increment(redeliver = false, counted = false))
    phase("warmup")
    val done = ArrayBuffer[(Double, Long)]()
    val wall = timedLoop((_, counted) => increment(redeliver = false, counted).foreach(done += _))
    val redeliveredIdx = truth.length - 4
    val redeliver = increment(redeliver = true, counted = false)
    phase("redeliver")
    val live = truth.map(_.count(_ != Gen.NA).toLong).sum
    allComplete(twinRoot(root))
    storeRows(twinRoot(root), live)
    checkDay(gen, twinRoot(root), start, redeliveredIdx, truth)
    recordLayout(twinRoot(root), "final")
    putOps(done.map(_._1).toSeq, done.map(_._2).sum.toDouble, wall)
    put("store_bytes_per_row", layout.bytes.toDouble / live, "B")
    val (tail, pct, beyond) = Stats.tail(done.map(_._1).toSeq)
    detail("increment_p50_s") = Stats.median(done.map(_._1).toSeq)
    detail("increment_tail_s") = tail
    detail("increment_tail_percentile") = pct
    detail("increment_tail_samples_beyond") = beyond
    redeliver.foreach { case (s, rows) => detail("redeliver_s") = s; detail("redeliver_rows") = rows }
    detail("live_rows") = live
  }

  /** Every stored value of one day equals the ground truth. */
  private def checkDay(gen: Gen, root: String, start: LocalDate, dayIdx: Int,
      truth: ArrayBuffer[Array[Int]]): Unit = op("day values") {
    val iso = Gen.iso(start.plusDays(dayIdx), Gen.Day)
    val bySkn = gen.skn.zipWithIndex.toMap
    val rows = spark.read.parquet(IngestJob.valuesDir(root))
      .filter(s"date = '$iso'").select("station_id", "value").collect()
    val expected = truth(dayIdx).count(_ != Gen.NA)
    check(rows.length == expected, s"$iso: ${rows.length} stored rows, expected $expected")
    rows.foreach { r =>
      val c = truth(dayIdx)(bySkn(r.getString(0)))
      check(c != Gen.NA && r.getDouble(1) == Gen.centsToDouble(c),
        s"$iso ${r.getString(0)}: stored ${r.getDouble(1)}, expected cents $c")
    }
  }

  // ---- store reads ------------------------------------------------------

  /**
   * Preloaded store, then rounds of four reads: point lookup by uuid,
   * equality filter on (datatype, station_id), an offset `paginate` page,
   * and the `paginateAfter` page that follows it. One op is one read. Each
   * round lists the store once, as a reader opening it would, and the four
   * reads share that table. The listing is Spark's reader, not a
   * `KeyedStore` call, so it is timed on its own and left out of op time.
   */
  def storeReads(): Unit = {
    val gen = new Gen(seed, sizes.stations, sizes.naFrac)
    val start = LocalDate.of(2019, 1, 1)
    val dates = Gen.days(start, sizes.days)
    val cells = cellsOf(gen, dates)
    warmUp(1)
    val root = setupReps { r =>
      val job = bulkFile(gen, s"${fresh(s"inputs$r")}/preload.csv", "preload", dates,
        Gen.Day, cells)
      val root = fresh(s"store$r").getPath
      if (ingest(root, job).isEmpty) throw new IllegalStateException("preload failed")
      root
    }
    // ground truth: every live row's uuid, in the store's page order
    val isoDates = dates.map(Gen.iso(_, Gen.Day))
    val keys = for (k <- dates.indices; i <- 0 until gen.stations if cells(k)(i) != Gen.NA)
      yield (Gen.uuid(Gen.Day, isoDates(k), gen.skn(i)), i, k)
    val sorted = keys.map(_._1).sorted.toArray
    val pageSize = PageSize
    val pages = sorted.length / pageSize
    val valuesDir = IngestJob.valuesDir(root)
    recordLayout(root, "preload")

    val listSeconds = ArrayBuffer[Double]()

    def read(table: DataFrame, kind: String, counted: Boolean)(q: DataFrame => DataFrame)
        (verify: Array[Row] => Unit): Option[(Double, Long)] = op(kind) {
      tracer.newTrace()
      var df: DataFrame = null
      val (rows, call) = tracer.span(s"keyed_store.$kind") { df = q(table); df.collect() }
      verify(rows)
      if (traced) {
        val (files, scanned) = PlanScan(df)
        readTraces += ReadTrace(kind, call, counted, files, scanned, rows.length)
      }
      (call.seconds, rows.length.toLong)
    }

    def uuidsOf(rows: Array[Row]) = rows.map(_.getAs[String]("uuid")).toSeq

    def round(counted: Boolean): Seq[Option[(Double, Long)]] = {
      tracer.newTrace()
      val (table, list) = tracer.span("read.list")(spark.read.parquet(valuesDir))
      listSpans += list
      listSeconds += list.seconds
      val (id, i, k) = keys(rng.nextInt(keys.length))
      val lookup = read(table, "lookup", counted)(KeyedStore.pointLookup(_, id)) { rows =>
        check(rows.length == 1, s"lookup $id returned ${rows.length} rows")
        rows.headOption.foreach { r =>
          check(r.getAs[String]("station_id") == gen.skn(i) &&
            String.valueOf(r.getAs[Any]("date")) == isoDates(k) &&
            r.getAs[Double]("value") == Gen.centsToDouble(cells(k)(i)) &&
            r.getAs[String]("datatype") == Gen.Datatype,
            s"lookup $id returned $r")
        }
      }
      val st = rng.nextInt(gen.stations)
      val filter = read(table, "filter", counted)(KeyedStore.queryFilter(_,
          Map("datatype" -> Gen.Datatype, "station_id" -> gen.skn(st)))) { rows =>
        val want = dates.indices.map(cells(_)(st)).filter(_ != Gen.NA)
        val gotCents = rows.map(r => math.round(r.getAs[Double]("value") * 100)).sum
        check(rows.length == want.length && gotCents == want.map(_.toLong).sum &&
          rows.forall(_.getAs[String]("station_id") == gen.skn(st)),
          s"filter ${gen.skn(st)}: ${rows.length} rows, expected ${want.length}")
      }
      val p = rng.nextInt(math.max(1, pages - 1))
      var cursor: Option[String] = None
      val page = read(table, "page", counted)(KeyedStore.paginate(_, Seq("uuid"), pageSize, p)) {
        rows =>
          val want = sorted.slice(p * pageSize, (p + 1) * pageSize).toSeq
          check(uuidsOf(rows) == want, s"paginate page $p differs from the sorted uuids")
          cursor = uuidsOf(rows).lastOption
      }
      val after = cursor.flatMap { c =>
        read(table, "page_after", counted)(KeyedStore.paginateAfter(_, Seq("uuid"), pageSize,
            Seq(c))) { rows =>
          val want = sorted.slice((p + 1) * pageSize, (p + 2) * pageSize).toSeq
          check(uuidsOf(rows) == want,
            s"paginateAfter from page $p: gap or duplicate against paginate order")
        }
      }
      Seq(lookup, filter, page, after)
    }

    phase("truth")
    (0 until sizes.warmups).foreach(_ => round(counted = false))
    phase("warmup")
    listSeconds.clear()
    val byKind = Seq("lookup", "filter", "page", "page_after").map(_ -> ArrayBuffer[Double]())
    var rowsReturned = 0L
    val wall = timedLoop { (_, counted) =>
      round(counted).zip(byKind).foreach {
        case (Some((s, n)), (_, buf)) => buf += s; rowsReturned += n
        case _ => ()
      }
    }
    val all = byKind.flatMap(_._2).toSeq
    putOps(all, rowsReturned.toDouble, wall)
    put("store_bytes_per_row", layout.bytes.toDouble / sorted.length, "B")
    val kinds = byKind.toMap
    for ((name, xs) <- Seq("lookup" -> kinds("lookup"), "filter" -> kinds("filter"),
        "page" -> (kinds("page") ++ kinds("page_after"))) if xs.nonEmpty) {
      val (tail, pct, beyond) = Stats.tail(xs.toSeq)
      detail(s"${name}_p50_s") = Stats.median(xs.toSeq)
      detail(s"${name}_tail_s") = tail
      detail(s"${name}_tail_percentile") = pct
      detail(s"${name}_tail_samples_beyond") = beyond
    }
    detail("reads_per_s") = all.length / all.sum
    detail("list_p50_s") = Stats.median(listSeconds.toSeq)
    detail("live_rows") = sorted.length
  }

  // ---- per-layer metrics (traced run) -----------------------------------

  def perLayer(): Unit = {
    tracer.drain()
    def c(s: Span) = tracer.counters(s)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    // the re-delivery after daily_cadence's timed loop is out of the gated
    // sample, so it stays out of the layer figures too (its spans are kept)
    val ft = fileTraces.filter(_.kind != "redeliver").toSeq
    val fc = ft.filter(_.counted)

    putLayer("wide_matrix.read_csv_s", med(ft.map(_.readCsv.seconds)), "s")
    putLayer("wide_matrix.jobs", mean(fc.map(f => (Seq(f.readCsv, f.valuesWide) ++ f.metadata)
      .map(c(_).jobs).sum.toDouble)), "count")

    putLayer("reshape.pipeline_s", med(ft.map(_.pipeline.seconds)), "s")
    putLayer("reshape.task_s", mean(fc.map(f => c(f.pipeline).taskMs / 1000.0)), "s")
    putLayer("reshape.rows_out", mean(fc.map(_.rowsOut.toDouble)), "count")
    putLayer("reshape.rows_kept_frac", ratio(fc.map(_.rowsOut).sum, fc.map(_.cellsIn).sum), "ratio")
    // fixed by the generator, not by the program: input descriptors only
    if (fc.nonEmpty) detail("inputs") = Map(
      "wide_matrix.csv_bytes" -> mean(fc.map(_.csvBytes.toDouble)),
      "wide_matrix.value_col_frac" -> ratio(fc.map(_.inRangeCols).sum, fc.map(_.dateCols).sum),
      "reshape.cells_in" -> mean(fc.map(_.cellsIn.toDouble)))

    val mv = "keyed_store.merge_values"
    putLayer(s"$mv.s", med(ft.map(_.mergeValues.seconds)), "s")
    putLayer(s"$mv.jobs", mean(fc.map(f => c(f.mergeValues).jobs.toDouble)), "count")
    putLayer(s"$mv.stages", mean(fc.map(f => c(f.mergeValues).stages.toDouble)), "count")
    putLayer(s"$mv.tasks", mean(fc.map(f => c(f.mergeValues).tasks.toDouble)), "count")
    putLayer(s"$mv.task_s", mean(fc.map(f => c(f.mergeValues).taskMs / 1000.0)), "s")
    putLayer(s"$mv.shuffle_bytes", mean(fc.map(f => c(f.mergeValues).shuffleBytes.toDouble)), "B")
    putLayer(s"$mv.input_bytes", mean(fc.map(f => c(f.mergeValues).inputBytes.toDouble)), "B")
    putLayer(s"$mv.output_bytes", mean(fc.map(f => c(f.mergeValues).outputBytes.toDouble)), "B")
    putLayer(s"$mv.files_written", mean(fc.map(_.filesWritten.toDouble)), "count")
    putLayer(s"$mv.partitions_touched", mean(fc.map(_.partitionsTouched.toDouble)), "count")
    putLayer(s"$mv.bytes_written_per_row", ratio(fc.map(f => c(f.mergeValues).outputBytes).sum,
      fc.map(f => c(f.mergeValues).recordsWritten).sum), "B")

    val mm = ft.flatMap(_.mergeMetadata)
    val mmc = fc.flatMap(_.mergeMetadata)
    putLayer("keyed_store.merge_metadata.s", med(mm.map(_.seconds)), "s")
    putLayer("keyed_store.merge_metadata.jobs", mean(mmc.map(c(_).jobs.toDouble)), "count")
    putLayer("keyed_store.merge_metadata.tasks", mean(mmc.map(c(_).tasks.toDouble)), "count")

    putLayer("keyed_store.layout.partitions", layout.partitions, "count")
    putLayer("keyed_store.layout.files", layout.fileCount, "count")
    putLayer("keyed_store.layout.bytes", layout.bytes.toDouble, "B")
    putLayer("keyed_store.layout.files_per_partition", layout.filesPerPartition, "ratio")

    for (kind <- Seq("lookup", "filter", "page", "page_after")) {
      val rt = readTraces.filter(_.kind == kind).toSeq
      val rc = rt.filter(_.counted)
      val k = s"keyed_store.$kind"
      putLayer(s"$k.s", med(rt.map(_.call.seconds)), "s")
      putLayer(s"$k.tasks", mean(rc.map(r => c(r.call).tasks.toDouble)), "count")
      putLayer(s"$k.files_read", mean(rc.map(_.filesRead.toDouble)), "count")
      putLayer(s"$k.input_bytes", mean(rc.map(r => c(r.call).inputBytes.toDouble)), "B")
      putLayer(s"$k.rows_read_per_row_returned",
        ratio(rc.map(_.rowsRead).sum, rc.map(_.rowsReturned).sum), "ratio")
    }

    // residual: runFile time not covered by the layers it calls (the forced
    // reshape span is a side measurement; runFile's merge re-runs it)
    val residual = ft.map { f =>
      f.runFile.seconds - (Seq(f.readCsv, f.valuesWide, f.mergeValues) ++ f.metadata ++
        f.mergeMetadata).map(_.seconds).sum
    }
    putLayer("ingest_job.run_file_s", med(ft.map(_.runFile.seconds)), "s")
    putLayer("ingest_job.residual_s", med(residual), "s")
    putLayer("ingest_job.all_complete_s", med(allCompleteSpans.map(_.seconds).toSeq), "s")
    putLayer("ingest_job.jobs", mean(fc.map(f => c(f.runFile).jobs.toDouble)), "count")
    putLayer("ingest_job.tasks", mean(fc.map(f => c(f.runFile).tasks.toDouble)), "count")

    // shares of the traced wall time: the decomposed ingestion chains (file
    // spans), the read calls and the store listings before each read round;
    // `other` is everything outside a layer call (the listings, glue)
    val opSpans = ft.map(_.file) ++ readTraces.map(_.call) ++ listSpans
    val total = opSpans.map(_.seconds).sum
    val wideS = ft.map(f => (Seq(f.readCsv, f.valuesWide) ++ f.metadata).map(_.seconds).sum).sum
    val reshapeS = ft.map(_.pipeline.seconds).sum
    val storeS = ft.map(f => (Seq(f.mergeValues) ++ f.mergeMetadata).map(_.seconds).sum).sum +
      readTraces.map(_.call.seconds).sum
    putLayer("share.wide_matrix", ratio(wideS, total), "ratio")
    putLayer("share.reshape", ratio(reshapeS, total), "ratio")
    putLayer("share.keyed_store", ratio(storeS, total), "ratio")
    putLayer("share.other", ratio(total - wideS - reshapeS - storeS, total), "ratio")
    putLayer("trace.listener_frac", ratio(tracer.listenerSeconds, total), "ratio")
    putLayer("trace.spans", tracer.spans.length, "count")
  }
}

object Bench {
  val Location = "hawaii"
  val PageSize = 100
}
