package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.{Main, RunLock}
import graft.sources.{SpecLoader, TableSpec, TallyHttp}
import graft.tally.{ParquetWarehouse, PartitionedParquetWarehouse, TallyReports,
  TallyTables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

/** The pipeline benchmark: the loader's own user path, driven through
  * its public entry points against a seeded fake Tally on loopback
  * HTTP.
  *
  * Workloads:
  *  - `full_sync`: `Main.run` full sync of the whole company into an
  *    empty parquet schema dir, repeated.
  *  - `incremental_sync`: set-up bootstraps a partitioned warehouse
  *    with `Main.run` incremental; each tick then applies a seeded
  *    change batch to the fake Tally and runs the incremental CLI
  *    again. Ticks alternate between a change (inserts, alters,
  *    deletes and a mid-series auto-numbered insert) and no change (a
  *    watermark poll).
  *  - `report_mix`: set-up bootstraps the partitioned warehouse; a
  *    single client then runs the 17 report calls in a closed loop,
  *    each materialized through the `noop` sink. A traced `full_sync`
  *    run also ends with one such pass over the warehouse it loaded.
  *
  * Every op's output is checked against the company's typed truth.
  * With `--trace 0` the run prints the end-to-end metrics; with
  * `--trace 1` it measures the same ops with the tracer attached
  * throughout, prints the per-layer metrics, writes the spans to a
  * trace file, and prints the tracing overhead against the median an
  * untraced run of the same workload and seed left in
  * `.perfbench/results/`. The last stdout line is one JSON object:
  * `correct`, `attempted`, `failed`, `metrics`.
  *
  * Usage, from the checkout root: PerfBench --workload W --seed N
  *   --seconds S --trace 0|1
  */
object PerfBench {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean)

  /** The export definition, and the dir every run writes under, both
    * relative to the checkout root. */
  val SpecFile = "perfbench/tally-bench.yaml"
  val WorkDir = ".perfbench"

  val Workloads = Seq("full_sync", "incremental_sync", "report_mix")
  /** Company size per workload (1 = 10,000 vouchers): full sync is
    * bound by extract volume, ticks and reports by per-job overhead. */
  val CompanyScale = Map("full_sync" -> 0.5, "incremental_sync" -> 0.2,
    "report_mix" -> 1.0)
  private val FyFrom = "2020-04-01"
  private val FyTo = "2021-03-31"

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace")
    require(args.length % 2 == 0 && m.keySet.subsetOf(known),
      s"usage: --workload W --seed N --seconds S --trace 0|1; " +
        s"got ${args.mkString(" ")}")
    val o = Opts(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1")
    require(Workloads.contains(o.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    o
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    val lock = RunLock.acquire(RunLock.benchLockPath)
    val ok = try new PerfBench(o, t0).run() finally lock.close()
    if (!ok) sys.exit(1)
  }

  // ---- statistics --------------------------------------------------

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples). Below 20 samples no percentile
    * above the median has ten beyond it, so the median stands in. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted; val n = s.size
    if (n < 20) (median(xs), 50.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  /** Session configured as `Main.main` configures it; only the
    * scratch and warehouse dirs move into the run's work dir. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-sync")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** One run of one workload. */
final class PerfBench(o: PerfBench.Opts, startNanos: Long) {
  import PerfBench._

  /** Row count and content hash of a table or a report. */
  private type Digest = (Long, java.math.BigDecimal)

  private val work = Paths.get(WorkDir).toAbsolutePath
    .resolve(s"run-${o.workload}-${ProcessHandle.current().pid()}")
  deleteTree(work)
  Files.createDirectories(work)
  private val spark = session(work)
  private val heap = new HeapWatch
  private val scale = CompanyScale(o.workload)
  private val company = new Company(o.seed, scale)
  company.render()
  private val fake = new FakeTally(company)
  private val specText = new String(Files.readAllBytes(Paths.get(SpecFile)),
    "UTF-8")
  private val specPath = work.resolve("tally-bench.yaml")
  Files.writeString(specPath, specText)
  private val specs: Seq[TableSpec] = {
    val (m, t) = SpecLoader.load(specText)
    m ++ t
  }
  private def spec(t: String) = specs.find(_.name == t).get

  private var tracer: Option[Tracer] = None
  private var attempted = 0L
  private var failed = 0L
  private val notes = mutable.Buffer[String]()

  /** Progress to stderr, with seconds since the JVM's main began. */
  private def mark(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.nanoTime() - startNanos) / 1e9}%.2f s: $what")

  private def fail(what: String): Unit = {
    failed += 1
    notes += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  // ---- ops ---------------------------------------------------------

  /** A timed op. Untraced, it is a bare wall-clock interval; traced,
    * it also carries the op's spans and counts. */
  private def op[T](kind: String, name: String)(body: => T)
      : (Double, Option[OpStats], T) = {
    attempted += 1
    heap.active = true
    try tracer match {
      case Some(tr) =>
        val (st, r) = tr.op(kind, name)(body)
        (st.wallS, Some(st), r)
      case None =>
        val t0 = System.nanoTime()
        val r = body
        ((System.nanoTime() - t0) / 1e9, None, r)
    } finally heap.active = false
  }

  /** A full GC before each headline op, outside its timer: the op
    * neither pays the GC debt of the ops before it nor counts their
    * floating garbage in `heap_mb`. */
  private def settle(): Unit = System.gc()

  private def cfg(schema: Path, mode: String): Main.Config = Main.Config(
    server = "127.0.0.1", port = fake.port, technology = "parquet",
    schema = schema.toString, definition = specPath.toString,
    syncMode = mode, fromDate = FyFrom.replace("-", ""),
    toDate = FyTo.replace("-", ""))

  /** `Main.run`, with its stdout captured: the real HTTP transport
    * untraced, the same transport wrapped in spans traced. */
  private def cli(schema: Path, mode: String): String = {
    val out = new java.io.ByteArrayOutputStream
    val transport = tracer.map(_.transport(
      new TallyHttp("127.0.0.1", fake.port).post, () => fake.serveNanos))
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.run(spark, cfg(schema, mode), transport)
    }
    out.toString("UTF-8")
  }

  // ---- truth -------------------------------------------------------

  /** Order-insensitive content digests, all in one Spark job: row
    * count and the exact sum of every row's 64-bit hash, per frame. */
  private def digests(frames: Seq[(String, DataFrame)]): Map[String, Digest] =
    frames.map { case (name, df) =>
      val cols = df.columns.indices.map(i => s"c$i")
      df.toDF(cols: _*)
        .agg(count(lit(1)).as("n"),
          sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).as("h"))
        .select(lit(name).as("name"), col("n"), col("h"))
    }.reduce(_ unionByName _).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), Option(r.getDecimal(2))
        .getOrElse(java.math.BigDecimal.ZERO)))
    }.toMap

  private def digest(df: DataFrame): Digest = digests(Seq("" -> df))("")

  private def truthDf(table: String): DataFrame = {
    val s = spec(table)
    val rows = company.truth(table)
      .map(m => Row.fromSeq(s.fields.map(f => m(f.name)))).toList
    spark.createDataFrame(rows.asJava, s.schema)
  }

  /** A table's spec columns, in spec order. */
  private def select(t: String, df: DataFrame): DataFrame =
    df.select(spec(t).fields.map(f => col(f.name)): _*)

  private def tableDigests(read: String => DataFrame)
      : Map[String, Digest] =
    digests(Company.Tables.map(t => t -> select(t, read(t))))

  private def truthDigests: Map[String, Digest] =
    tableDigests(truthDf)

  private def checkTables(what: String,
      got: Map[String, Digest],
      want: Map[String, Digest]): Boolean = {
    val bad = Company.Tables.filter(t => got(t) != want(t))
    bad.foreach(t => System.err.println(
      s"[perfbench] $what: $t has ${got(t)} rows/hash, truth ${want(t)}"))
    bad.isEmpty
  }

  /** Reports read logical columns as 0/1 ints (the reference DDL's
    * tinyint); the cast applies to the warehouse and the truth alike. */
  private def bundle(read: String => DataFrame): TallyTables = {
    def t(n: String) = {
      val df = read(n)
      df.select(df.schema.fields.toIndexedSeq.map(f =>
        if (f.dataType == BooleanType) col(f.name).cast("int").as(f.name)
        else col(f.name)): _*)
    }
    TallyTables(t("mst_group"), t("mst_ledger"), t("mst_vouchertype"),
      t("mst_stock_item"), t("mst_opening_batch_allocation"),
      t("trn_closingstock_ledger"), t("trn_voucher"), t("trn_accounting"),
      t("trn_inventory"))
  }

  /** The 17 report calls the oracle gates as q32–q46, q49 and q50. */
  private val reports: Seq[(String, TallyTables => DataFrame)] = Seq(
    "trial_balance" -> (t => TallyReports.trialBalance(t, FyFrom, FyTo)),
    "account_ledger" -> (t =>
      TallyReports.accountLedger(t, "Cash", FyFrom, FyTo)),
    "accounting_voucher_view" -> (t => TallyReports.accountingVoucherView(t)),
    "daily_cash_movement" -> (t =>
      TallyReports.dailyCashMovement(t, FyFrom, FyTo)),
    "group_tree_parent_child" -> (t =>
      TallyReports.groupTreeParentChild(t, "Loans & Advances (Asset)")),
    "group_tree_children_parent" -> (t =>
      TallyReports.groupTreeChildrenParent(t, company.deepestGroup)),
    "profit_loss" -> (t => TallyReports.profitLoss(t)),
    "sales_daily" -> (t => TallyReports.salesDaily(t, FyFrom, FyTo)),
    "sales_monthly" -> (t => TallyReports.salesMonthly(t, FyFrom, FyTo)),
    "purchase_daily" -> (t => TallyReports.purchaseDaily(t, FyFrom, FyTo)),
    "purchase_monthly" -> (t =>
      TallyReports.purchaseMonthly(t, FyFrom, FyTo)),
    "sales_register" -> (t => TallyReports.salesRegister(t)),
    "purchase_register" -> (t => TallyReports.purchaseRegister(t)),
    "stock_summary" -> (t => TallyReports.stockSummary(t)),
    "stock_voucher_view" -> (t => TallyReports.stockVoucherView(t)),
    "forex_register" -> (t => TallyReports.forexRegister(t)),
    "fk_register" -> (t => TallyReports.fkRegister(t, t.trnAccounting)))

  // ---- workloads ---------------------------------------------------

  /** Whole units of `step`, at least one, each started only when the
    * mean unit so far would end inside the window, so a run does not
    * overshoot its window by a unit. */
  private def measure(seconds: Double)(step: Samples => Unit): Samples = {
    val ph = new Samples
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var units = 0
    do { step(ph); units += 1 }
    while (System.nanoTime() + (System.nanoTime() - t0) / units <= deadline)
    ph
  }

  // full_sync ---------------------------------------------------------

  /** Schema dirs of the timed syncs, checked after the measured loop
    * so the loop times syncs only. */
  private val syncDirs = mutable.Buffer[Path]()

  private def fullSync(ph: Samples): Unit = {
    val dir = work.resolve(s"full-${syncDirs.size + 1}")
    settle()
    val (s, st, _) = op("full_sync", dir.getFileName.toString)(
      cli(dir, "full"))
    mark(f"${dir.getFileName} took $s%.3f s")
    ph.main += s
    st.foreach(ph.stats += _)
    syncDirs += dir
  }

  /** Every timed sync's nine tables against the truth: one read per
    * table over all sync dirs, grouped by the dir each row came from. */
  private def checkFullSyncs(): Unit = {
    val got = Company.Tables.map { t =>
      val cols = spec(t).fields.map(f => col(f.name))
      spark.read.parquet(syncDirs.map(d => s"$d/$t").toSeq: _*)
        .select(regexp_extract(input_file_name(), "/(full-\\d+)/", 1)
          .as("dir"), xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
        .groupBy(col("dir"))
        .agg(count(lit(1)).as("n"), sum(col("h")).as("h"))
        .select(concat_ws(" ", col("dir"), lit(t)).as("name"), col("n"),
          col("h"))
    }.reduce(_ unionByName _).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDecimal(2)))
    }.toMap
    val want = truthDigests
    syncDirs.map(_.getFileName.toString).foreach { dir =>
      val empty = (0L, java.math.BigDecimal.ZERO)
      if (!checkTables(dir, Company.Tables.map(t =>
          t -> got.getOrElse(s"$dir $t", empty)).toMap, want))
        fail(s"$dir differs from the company")
    }
  }

  // incremental_sync ---------------------------------------------------

  private lazy val warehouseDir = work.resolve("warehouse")
  private lazy val warehouse =
    new PartitionedParquetWarehouse(spark, warehouseDir.toString)
  private var tickNo = 0
  private val reportRe =
    """\[graft\] incremental sync: SyncReport\((true|false),(true|false),(?:Hash)?Map\((.*?)\),(?:Hash)?Map\((.*?)\),(true|false)\)""".r

  private def parseMap(s: String): Map[String, Long] =
    if (s.trim.isEmpty) Map.empty
    else s.split(", ").map { kv =>
      val Array(k, v) = kv.split(" -> ")
      k -> v.toLong
    }.toMap

  private def bootstrap(): Unit = {
    val out = cli(warehouseDir, "incremental")
    mark("warehouse bootstrapped")
    require(out.contains("incremental sync"), s"bootstrap printed: $out")
  }

  /** Files of each partitioned table's live version, by file key. */
  private def liveFiles(): Map[String, (String, Set[Any])] =
    Company.Tables.map { t =>
      val v = new String(Files.readAllBytes(
        warehouseDir.resolve(t).resolve("CURRENT")), "UTF-8").trim
      val dir = warehouseDir.resolve(t).resolve(v)
      val s = Files.walk(dir)
      val keys = try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => Files.readAttributes(f,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
        .toSet[Any]
      finally s.close()
      t -> (v, keys)
    }.toMap

  /** Partition dirs of the versions a tick published, and how many of
    * them hold a file the tick wrote (a file key not live before). */
  private def partitionsRewritten(before: Map[String, (String, Set[Any])])
      : (Long, Long) = {
    var fresh = 0L; var all = 0L
    Company.Tables.foreach { t =>
      val v = new String(Files.readAllBytes(
        warehouseDir.resolve(t).resolve("CURRENT")), "UTF-8").trim
      if (v != before(t)._1) {
        val dirs = Option(warehouseDir.resolve(t).resolve(v).toFile
          .listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("_pt="))
        all += dirs.length
        fresh += dirs.count(d => Option(d.listFiles()).getOrElse(Array.empty)
          .exists(f => f.isFile && !before(t)._2.contains(
            Files.readAttributes(f.toPath,
              classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())))
      }
    }
    (fresh, all)
  }

  private def tick(ph: Samples): Unit = {
    val n = tickNo
    tickNo += 1
    val batch = company.synchronized {
      val b = company.applyBatch(n)
      company.render()
      b
    }
    val before = if (tracer.isDefined) Some(liveFiles()) else None
    settle()
    val (s, st, out) = op(if (batch.idle) "poll" else "tick", s"tick $n")(
      cli(warehouseDir, "incremental"))
    st.foreach { x =>
      x.rowsChanged = batch.rowsChanged
      before.foreach { b =>
        val (f, a) = partitionsRewritten(b); x.ptFresh = f; x.ptAll = a
      }
    }
    mark(f"tick $n took $s%.3f s")
    if (batch.idle) { ph.idle += s; st.foreach(ph.idleStats += _) }
    else { ph.main += s; st.foreach(ph.stats += _) }
    reportRe.findFirstMatchIn(out) match {
      case None => fail(s"tick $n printed no SyncReport: ${out.take(300)}")
      case Some(m) =>
        val got = (m.group(1).toBoolean, m.group(2).toBoolean,
          parseMap(m.group(3)), parseMap(m.group(4)), m.group(5).toBoolean)
        val want = (batch.masterChanged, batch.transactionChanged,
          batch.deleted, batch.appended, batch.renumbered)
        if (got != want) fail(s"tick $n reported $got, batch was $want")
    }
  }

  /** Whole cycles of the tick kinds, so every run measures the same
    * mix. */
  private def tickCycle(ph: Samples): Unit =
    (0 until Company.TickCycle).foreach(_ => tick(ph))

  private def checkWarehouse(): Unit =
    if (!checkTables(s"warehouse after tick ${tickNo - 1}",
        tableDigests(warehouse.read), truthDigests))
      fail(s"warehouse after tick ${tickNo - 1} differs from the company")

  // reports -----------------------------------------------------------

  private val reportDigests =
    mutable.LinkedHashMap[String, Digest]()

  /** Digest every report over a warehouse: the check, and the
    * warm-up of the passes that follow. */
  private def digestReports(read: String => DataFrame): Unit = {
    val tables = bundle(read)
    reports.foreach { case (name, f) =>
      attempted += 1
      reportDigests(name) = digest(f(tables))
    }
  }

  /** One pass of the single client: resolve the warehouse snapshot
    * once, then run the 17 reports over it in order, each
    * materialized through the `noop` sink. */
  private def reportPass(read: String => DataFrame)(ph: Samples): Unit = {
    val t0 = System.nanoTime()
    val tables = bundle(read)
    reports.foreach { case (name, f) =>
      val (s, st, (build, exec)) = op("report", name) {
        val b0 = System.nanoTime()
        val df = tracer.fold(f(tables))(tr => tr.phase("build")(f(tables)))
        val b1 = System.nanoTime()
        // the report's own analysis ran while it was built
        tracer.foreach(_.phases(df.queryExecution))
        df.write.format("noop").mode("overwrite").save()
        (b1 - b0, System.nanoTime() - b1)
      }
      st.foreach { x => x.buildMs = build / 1e6; x.execMs = exec / 1e6 }
      ph.reports += s
      st.foreach(ph.reportStats += _)
      ph.byReport.getOrElseUpdate(name, mutable.Buffer[Double]()) += s
    }
    ph.passes += (System.nanoTime() - t0) / 1e9
  }

  private def checkReports(): Unit = {
    val truth = bundle(t => truthDf(t).localCheckpoint(eager = true))
    reports.foreach { case (name, f) =>
      val want = digest(f(truth))
      if (reportDigests(name) != want) {
        System.err.println(s"[perfbench] report $name: warehouse " +
          s"${reportDigests(name)} rows/hash, truth $want")
        fail(s"report $name differs from the same report over the truth")
      }
    }
  }

  private def traced[T](tr: Tracer)(body: => T): T = {
    tr.attach()
    tracer = Some(tr)
    try body finally { tr.detach(); tracer = None }
  }

  // ---- run -----------------------------------------------------------

  /** Where an untraced run keeps its headline median, so a traced run
    * of the same workload and seed can report its overhead. */
  private val resultPath = Paths.get(WorkDir).toAbsolutePath
    .resolve("results").resolve(s"${o.workload}-seed${o.seed}")

  /** Set up, measure (traced when tracing), check, print. */
  def run(): Boolean = try {
    mark(s"session up, company of ${company.vouchers.size} vouchers rendered")
    // full_sync warms up with four syncs: a cold first sync is several
    // times slower than the ones after it, and the next few still
    // shrink. An incremental run's one change tick stays cold, as in a
    // one-shot CLI incremental sync.
    o.workload match {
      case "full_sync" =>
        (1 to 4).foreach(i => cli(work.resolve(s"full-warm-up-$i"), "full"))
      case "incremental_sync" => bootstrap()
      case _ => bootstrap(); digestReports(warehouse.read)
    }
    val setupS = (System.nanoTime() - startNanos) / 1e9
    mark("set-up done")
    heap.reset()

    val step: Samples => Unit = o.workload match {
      case "full_sync" => fullSync
      case "incremental_sync" => tickCycle
      case _ => reportPass(warehouse.read)
    }
    // a traced run measures exactly what an untraced one does, with
    // the tracer attached throughout
    val tracer0 = if (o.trace) Some(new Tracer(spark)) else None
    val samples = tracer0.fold(measure(o.seconds)(step))(tr =>
      traced(tr)(measure(o.seconds)(step)))
    val heapMb = heap.peakMb
    // a traced full sync is followed by the reports over the warehouse
    // it loaded: checked and warmed, then one traced pass
    for (tr <- tracer0 if o.workload == "full_sync") {
      val read = new ParquetWarehouse(spark, syncDirs.last.toString).read _
      digestReports(read)
      traced(tr)(reportPass(read)(samples))
    }

    mark("measured")
    // the checks' aggregates are small: one shuffle partition per core
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    o.workload match {
      case "full_sync" => checkFullSyncs()
      case "incremental_sync" => checkWarehouse()
      case _ =>
    }
    if (reportDigests.nonEmpty) checkReports()

    mark("checked")
    val env = Seq("nproc" -> Runtime.getRuntime.availableProcessors(),
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "scale" -> scale,
      "vouchers" -> company.vouchersAtStart,
      "shuffle_partitions" -> shufflePartitions,
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> (if (o.trace) 1 else 0))
    println(s"[perfbench] env ${env.map { case (k, v) => s"$k=$v" }.mkString(" ")}")

    val report = new Report(o.workload, samples, setupS, heapMb,
      attempted, failed)
    report.printEndToEnd()
    val metrics: Seq[(String, Double, String)] = tracer0 match {
      case None =>
        Files.createDirectories(resultPath.getParent)
        Files.writeString(resultPath, median(samples.headline).toString)
        report.endToEnd
      case Some(tr) =>
        val untracedP50 = Some(resultPath).filter(Files.exists(_))
          .map(p => Files.readString(p).trim.toDouble)
        val layers = new Layers(o.workload, samples, reports.map(_._1),
          untracedP50)
        layers.print()
        println(f"[perfbench] fake Tally served ${fake.requests} requests " +
          f"in ${fake.serveNanos / 1e9}%.3f s")
        val tracePath = Paths.get(WorkDir).toAbsolutePath.resolve("traces")
          .resolve(s"trace-${o.workload}-seed${o.seed}.jsonl")
        tr.write(tracePath, env.toMap ++ Map("kind" -> "header"))
        println(s"[perfbench] trace ${tracePath} (${tr.spans.size} spans)")
        layers.metrics
    }
    notes.foreach(n => println(s"[perfbench] failure: $n"))
    println(Json.ordered(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
    failed == 0
  } finally {
    fake.close()
    spark.stop()
    deleteTree(work)
  }
}

/** Highest driver heap occupancy after any GC while an op runs: the
  * heap pools only, not Metaspace or the code cache. */
final class HeapWatch {
  @volatile var active = false
  @volatile private var peak = 0L
  private val heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private val heapPoolNames = heapPools.map(_.getName).toSet
  private val beans = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.collect {
      case b: javax.management.NotificationEmitter => b
    }
  beans.foreach(_.addNotificationListener((n, _) => {
    if (active && n.getType ==
        com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[
          javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum
      if (used > peak) peak = used
    }
  }, null, null))
  def reset(): Unit = peak = 0L
  /** Falls back to the occupancy after the last GC when no GC ran
    * during an op. */
  def peakMb: Double = {
    val p = if (peak > 0) peak else heapPools
      .flatMap(b => Option(b.getCollectionUsage)).map(_.getUsed).sum
    p / 1048576.0
  }
}
