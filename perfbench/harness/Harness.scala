package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.model.Rides
import graft.operators.{Medallion, ParquetUpsertSink}
import graft.sources.{RideGenerator, Tables}
import graft.streaming.MedallionStream
import graft.streaming.MedallionStream.Paths

/** The measured JVM of the benchmark. It drives one workload through
  * the engine's public entry points and writes a raw record (times,
  * streaming progress, correctness checks and, when traced, Spark
  * listener events) as JSON; `run.py` turns the record into metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --out FILE [--data DIR] [--queries a,b]
  */
object Harness {

  final case class Ctx(spark: SparkSession, work: String, seed: Long,
                       seconds: Int, tracer: Option[Tracer])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val trace = opts("trace") == "1"
    val spark = session(4, work)
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(attach(spark)) else None
    val ctx = Ctx(spark, work, opts("seed").toLong, opts("seconds").toInt,
      tracer)
    val record: Map[String, Any] = Map(
      "session_ready_ms" -> System.currentTimeMillis(),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "loadavg_start" -> loadavg) ++ (opts("workload") match {
      case "rides_stream" =>
        // traced runs add the backlog drain and its 1-core baseline
        ridesStream(ctx) ++ tracer.map(_ => "drain" -> ridesDrain(ctx))
      case "query_battery" =>
        queryBattery(ctx, opts("data"), opts("queries").split(",").toSeq,
          opts.get("digests-only").contains("1"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }) ++ Map("loadavg_end" -> loadavg)
    val traced = tracer.map { t =>
      org.apache.spark.perfbench.BusDrain(SparkSession.active.sparkContext)
      "trace" -> t.record
    }
    Files.writeString(new File(opts("out")).toPath,
      Json.render(record ++ traced))
    SparkSession.active.stop()
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.stage.dir", s"$work/stage")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()

  private def attach(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.streams)
    t
  }

  def loadavg: String = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next() finally src.close()
  }.getOrElse("n/a")

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }

  /** Inputs are staged in this many separately timed parts (rides) or
    * this many times (query_battery), so the staging share of
    * `setup_s` is a median and one slow flush does not move it.
    */
  val SetupReps = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ------------------------------------------------------------------
  // rides: shared staging, progress and correctness

  private def ridePaths(root: String): Paths = {
    val p = Paths(s"$root/raw", s"$root/bronze", s"$root/silver",
      s"$root/gold", s"$root/checkpoints")
    Seq(p.raw, p.bronze, p.silver).foreach(d => new File(d).mkdirs())
    p
  }

  /** Generates `files` × `perFile` ride events with the run's seed and
    * writes them as JSON, one file per generator partition, so each
    * file holds a contiguous id range. Returns the files in id order.
    */
  private def stageEvents(spark: SparkSession, dir: String, seed: Long,
                          files: Int, perFile: Int,
                          epochStart: Long = Epoch): Seq[File] = {
    RideGenerator.events(spark, files.toLong * perFile, seed,
      numPartitions = files, epochStart = epochStart)
      .write.mode("overwrite").json(dir)
    val out = new File(dir).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      .sortBy(_.getName).toSeq
    require(out.size == files, s"staged ${out.size} files, wanted $files")
    out
  }

  /** Event-time origin of the measured events. Warm-up events start a
    * day earlier, so the watermark they advance never drops a measured
    * event as late.
    */
  val Epoch = 1704067200L
  val WarmEpoch: Long = Epoch - 86400L

  /** Stages `files` files of ride events in [[SetupReps]] parts of
    * near-equal size. Part k has its own seed and an event-time origin
    * that continues where part k-1 ends. Returns the files in order and
    * the staging time: the median per-file time of the parts times
    * the file count, with each part's time.
    */
  private def stageInParts(spark: SparkSession, root: String, seed: Long,
                           files: Int, perFile: Int)
      : (Seq[File], Double, Seq[Double]) = {
    val sizes = (0 until SetupReps).map(k =>
      files / SetupReps + (if (k < files % SetupReps) 1 else 0))
    val starts = sizes.scanLeft(0)(_ + _)
    val parts = sizes.indices.map { k =>
      timed(stageEvents(spark, s"$root/p$k", seed * SetupReps + k, sizes(k),
        perFile, Epoch + starts(k).toLong * perFile * 3 / 10))
    }
    val perFileS = parts.indices.map(k => parts(k)._2 / sizes(k))
    (parts.flatMap(_._1), median(perFileS) * files, parts.map(_._2))
  }

  private def progressOf(q: StreamingQuery): Seq[Json.Raw] =
    q.recentProgress.toSeq.map(p => Json.Raw(p.json))

  private def sums(q: StreamingQuery): (Long, Long) = {
    val ps = q.recentProgress
    (ps.map(_.numInputRows).sum,
      ps.map(p => p.stateOperators.headOption.map(_.numRowsUpdated)
        .getOrElse(0L)).sum)
  }

  /** True once every row published so far has passed through all
    * three layers: bronze read them all, silver read all of bronze,
    * and gold read all that silver emitted.
    */
  private def caughtUp(b: StreamingQuery, s: StreamingQuery,
                       g: StreamingQuery, published: Long): Boolean = {
    val (bIn, _) = sums(b)
    val (sIn, sOut) = sums(s)
    val (gIn, _) = sums(g)
    bIn == published && sIn == bIn && gIn == sOut && g.recentProgress.nonEmpty
  }

  /** The correctness gate of both rides workloads (as in
    * StreamingSpec): bronze holds every published event, silver is
    * unique on the dedup key, gold equals the batch gold aggregate
    * over the silver table the run produced, and gold is unique on
    * its upsert key.
    */
  private def checkRides(spark: SparkSession, p: Paths,
                         published: Long): Map[String, Any] = {
    val bronzeRows = spark.read.parquet(p.bronze).count()
    val silver = spark.read.parquet(p.silver)
    val silverRows = silver.count()
    val silverDupKeys = silver.groupBy("ride_id", "event_timestamp")
      .count().filter(col("count") > 1).count()
    val expected = Medallion.goldAggregate(silver)
    val gold = new ParquetUpsertSink(p.gold, Rides.goldKey).read(spark)
      .select(expected.columns.map(c => col(c)): _*)
    val goldMissing = expected.except(gold).count()
    val goldExtra = gold.except(expected).count()
    val goldDupKeys = gold.groupBy(Rides.goldKey.map(c => col(c)): _*)
      .count().filter(col("count") > 1).count()
    Map(
      "published" -> published, "bronze_rows" -> bronzeRows,
      "silver_rows" -> silverRows, "silver_dup_keys" -> silverDupKeys,
      "gold_rows" -> gold.count(), "gold_missing" -> goldMissing,
      "gold_extra" -> goldExtra, "gold_dup_keys" -> goldDupKeys,
      "ok" -> (bronzeRows == published && silverDupKeys == 0 &&
        goldMissing == 0 && goldExtra == 0 && goldDupKeys == 0))
  }

  private def goldTableFiles(p: Paths): Int = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(p.gold)).count(_.getName.endsWith(".parquet"))
  }

  // ------------------------------------------------------------------
  // rides_stream: open loop, one staged file moved into raw per slot

  /** Publish schedule: 10 files a second of 400 events each, i.e.
    * 4,000 events/s, the rate the prototype ran at, split into more
    * files so a short run still gives ~100 latency samples.
    */
  val FilesPerSecond = 10
  val EventsPerFile = 400
  val WarmFiles = 5
  val LeadInSeconds = 3
  /** A file that has not reached gold this long after it was due has
    * failed (about 3× the worst file seen while sizing the workload).
    */
  val ReachLimitMs = 30000L

  private def ridesStream(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val root = s"${ctx.work}/stream"
    val leadFiles = LeadInSeconds * FilesPerSecond
    val timedFiles = ctx.seconds * FilesPerSecond
    // staged before the queries start, so their polling does not slow it
    val (warmFiles, warmStageS) = timed(stageEvents(spark, s"$root/warm",
      ctx.seed, WarmFiles, EventsPerFile, WarmEpoch))
    val warmRows = warmFiles.map(f => Files.lines(f.toPath).count())
    val (staged, stageS, stageParts) = stageInParts(spark, s"$root/staged",
      ctx.seed, leadFiles + timedFiles, EventsPerFile)
    val rows = warmRows ++ staged.map(f => Files.lines(f.toPath).count())
    val t0 = System.nanoTime()
    val p = ridePaths(root)
    val zero = Trigger.ProcessingTime(0L)
    val commits = new ConcurrentLinkedQueue[Map[String, Any]]()
    val bronze = MedallionStream.bronzeQuery(spark, p, zero)
    val silver = MedallionStream.silverQuery(spark, p, zero)
    val gold = MedallionStream.goldQuery(spark, p, zero,
      afterBatch = b => commits.add(Map("batch_id" -> b,
        "wall_ms" -> System.currentTimeMillis())))

    var published = 0
    def publish(f: File): Long = {
      Files.setLastModifiedTime(f.toPath,
        FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(f.toPath, new File(p.raw, f"f$published%06d.json").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      published += 1
      System.currentTimeMillis()
    }
    def awaitCaughtUp(rows: Long, deadlineMs: Long): Boolean = {
      while (!caughtUp(bronze, silver, gold, rows) &&
             System.currentTimeMillis() < deadlineMs) Thread.sleep(20)
      caughtUp(bronze, silver, gold, rows)
    }

    // warm-up: the first batches of each query pay planning and codegen
    warmFiles.foreach(publish)
    val warmOk = awaitCaughtUp(warmRows.sum,
      System.currentTimeMillis() + 120000L)
    require(warmOk, "warm-up files did not reach gold")
    val burstS = warmStageS + secondsSince(t0)

    // the schedule starts with a lead-in that is not measured, so the
    // measured window begins with the three queries already cycling
    val loadStart = loadavg
    val periodMs = 1000.0 / FilesPerSecond
    val startMs = System.currentTimeMillis() + 50
    val due = staged.indices.map(k => startMs + math.round(k * periodMs))
    val pub = new Array[Long](staged.size)
    val generator = new Thread(() => {
      staged.indices.foreach { k =>
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        pub(k) = publish(staged(k))
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    val drained = awaitCaughtUp(rows.sum, due.last + ReachLimitMs)
    val endMs = System.currentTimeMillis()
    Seq(gold, silver, bronze).foreach(_.stop())
    val loadEnd = loadavg
    val progress = Map("bronze" -> progressOf(bronze),
      "silver" -> progressOf(silver), "gold" -> progressOf(gold))
    val checks = checkRides(spark, p, rows.sum)
    Map(
      "stage_s" -> stageS, "stage_parts_s" -> stageParts,
      "warmup_s" -> (burstS + (due(leadFiles) - startMs) / 1e3),
      "first_op_ms" -> due(leadFiles), "end_ms" -> endMs,
      "drained" -> drained, "loadavg_workload" -> Seq(loadStart, loadEnd),
      "files" -> rows.indices.map { i =>
        val k = i - WarmFiles
        Map("rows" -> rows(i), "warm" -> (k < leadFiles),
          "due_ms" -> (if (k < 0) None else Some(due(k))),
          "pub_ms" -> (if (k < 0) None else Some(pub(k))))
      },
      "query_ids" -> Map("bronze" -> bronze.id.toString,
        "silver" -> silver.id.toString, "gold" -> gold.id.toString),
      "progress" -> progress,
      "gold_commits" -> commits.asScala.toSeq,
      "gold_table_files" -> goldTableFiles(p),
      "checks" -> checks)
  }

  // ------------------------------------------------------------------
  // the backlog drain: drained layer by layer with AvailableNow

  /** Backlog of the drain: about 10 s on 4 cores. */
  val DrainEvents = 150000
  val DrainFiles = 64
  val DrainBatches = 2

  private def dataFiles(dir: String): Int =
    Option(new File(dir).listFiles()).map(_.count(f =>
      f.isFile && f.getName.startsWith("part-"))).getOrElse(0)

  /** maxFilesPerTrigger sized from the layer's own input file count,
    * as StreamScaleProof does, to give about [[DrainBatches]] batches.
    */
  private def mfpt(files: Int): Int =
    math.max(1, math.round(files.toDouble / DrainBatches).toInt)

  /** Drains `p.raw` through bronze, silver and gold in turn. Returns
    * each layer's wall time and run metadata.
    */
  private def drain(spark: SparkSession, p: Paths): Map[String, Any] = {
    val commits = new ConcurrentLinkedQueue[Map[String, Any]]()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val rawFiles = dataFiles(p.raw)
    val b = MedallionStream.bronzeQuery(spark, p, Trigger.AvailableNow,
      Some(mfpt(rawFiles)))
    b.awaitTermination()
    val bronzeS = secondsSince(t0)
    val bronzeFiles = dataFiles(p.bronze)
    val s = MedallionStream.silverQuery(spark, p, Trigger.AvailableNow,
      Some(mfpt(bronzeFiles)))
    s.awaitTermination()
    val silverS = secondsSince(t0) - bronzeS
    val silverFiles = dataFiles(p.silver)
    val g = MedallionStream.goldQuery(spark, p, Trigger.AvailableNow,
      maxFilesPerTrigger = Some(mfpt(silverFiles)),
      afterBatch = id => commits.add(Map("batch_id" -> id,
        "wall_ms" -> System.currentTimeMillis())))
    g.awaitTermination()
    val totalS = secondsSince(t0)
    Map(
      "start_ms" -> startMs, "total_s" -> totalS,
      "layer_s" -> Map("bronze" -> bronzeS, "silver" -> silverS,
        "gold" -> (totalS - bronzeS - silverS)),
      "input_files" -> Map("bronze" -> rawFiles, "silver" -> bronzeFiles,
        "gold" -> silverFiles),
      "query_ids" -> Map("bronze" -> b.id.toString,
        "silver" -> s.id.toString, "gold" -> g.id.toString),
      "progress" -> Map("bronze" -> progressOf(b), "silver" -> progressOf(s),
        "gold" -> progressOf(g)),
      "gold_commits" -> commits.asScala.toSeq,
      "gold_table_files" -> goldTableFiles(p))
  }

  /** The traced run's backlog drain: [[DrainEvents]] events drained
    * layer by layer, after a one-file warm-up drain, then the same job
    * on `local[1]` over a quarter of the backlog (the single-threaded
    * baseline). It runs after the stream, in the same JVM.
    */
  private def ridesDrain(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val root = s"${ctx.work}/drain"
    val (_, warmupS) = timed {
      val w = ridePaths(s"$root/warm")
      stageEvents(spark, w.raw, ctx.seed, 1, 500, WarmEpoch)
      drain(spark, w)
    }
    val perFile = DrainEvents / DrainFiles
    val p = ridePaths(s"$root/timed")
    val staged = stageEvents(spark, p.raw, ctx.seed, DrainFiles, perFile)
    val events = staged.map(f => Files.lines(f.toPath).count()).sum
    val run = drain(spark, p)
    val checks = checkRides(spark, p, events)

    val p1 = ridePaths(s"$root/one")
    val n1 = DrainFiles / 4
    stageEvents(spark, p1.raw, ctx.seed, n1, perFile)
    spark.stop()
    val one = drain(session(1, ctx.work), p1)
    Map(
      "warmup_s" -> warmupS, "events" -> events, "files" -> staged.size,
      "drain" -> run, "checks" -> checks,
      "one_core" -> Map("events" -> n1.toLong * perFile,
        "total_s" -> one("total_s"), "layer_s" -> one("layer_s")))
  }

  // ------------------------------------------------------------------
  // query_battery: closed loop, one client, the query catalog

  /** The `tables` family's `upsert_scan_prune`: the catalog query's
    * call (a stats-pruned scan of a Z-ordered upsert table) over a
    * table the benchmark builds in its own work directory, because the
    * catalog's fixture lives at a fixed path outside it. The table is
    * built as the catalog fixture is: the narrow documents projection,
    * compacted Z-ordered on (doc_id, n_chars) into about 8 files.
    */
  private def scanPruneTable(spark: SparkSession, data: String,
                             work: String): () => DataFrame = {
    val docs = Tables.read(spark, data, "documents")
      .select("doc_id", "source", "lang", "n_chars")
    val dir = s"$work/tables/skip_scan"
    val sink = new ParquetUpsertSink(dir, Seq("doc_id"))
    sink.upsert(spark, docs, batchId = -1)
    val bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(new File(dir))
    sink.compact(spark, targetFileBytes = math.max(1L, bytes / 8),
      clusterBy = Seq("doc_id", "n_chars"), zorder = true)
    () => sink.scan(spark,
      (col("doc_id") < 200L && col("n_chars").between(150L, 400L)) ||
        col("doc_id") === 450L)
  }

  /** Order-insensitive digest of a result: row count and the sum of
    * per-row hashes, with floating-point values rounded to 4 places
    * and maps sorted, so partial-aggregate merge order cannot flip it.
    */
  def digest(df: DataFrame): (Long, Long) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 4) + lit(0.0)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case MapType(kt, vt, _) => array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("key"),
          norm(e.getField("value"), vt).as("value"))))
      case s: StructType => struct(s.fields.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f =>
      norm(df.col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(pmod(h, lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def queryBattery(ctx: Ctx, data: String, names: Seq[String],
                           digestsOnly: Boolean): Map[String, Any] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val (scanPrune, tablesS) = timed(scanPruneTable(spark, data, ctx.work))
    val catalog = SparkEntry.queries
    val fns: Map[String, () => DataFrame] = names.map { n =>
      n -> (if (n == "upsert_scan_prune") scanPrune
            else { val fn = catalog(n); () => fn(spark, data) })
    }.toMap

    // warm-up pass: each query once, materialised by its output digest
    // (codegen of every stage but the final noop-sink one)
    val t0 = System.nanoTime()
    val digests = names.map { n =>
      val ((rows, hash), s) = timed(digest(fns(n)()))
      n -> Map("rows" -> rows, "hash" -> hash, "warm_s" -> s)
    }.toMap
    val warmupS = secondsSince(t0)
    val tableNames = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings", "events")
    val stageParts = (1 to SetupReps).map { _ =>
      timed(tableNames.foreach(t => Tables.read(spark, data, t).count()))._2
    }
    val stageS = median(stageParts)
    if (digestsOnly) return Map("digests" -> digests)

    val loadStart = loadavg
    val firstOpMs = System.currentTimeMillis()
    val rng = new scala.util.Random(ctx.seed)
    val calls = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var pass = 0
    // whole passes until the window closes, in a seed-shuffled order
    while (pass < 2 || System.nanoTime() < deadline) {
      rng.shuffle(names).foreach { n =>
        val group = s"call-${calls.size}"
        sc.setJobGroup(group, n, interruptOnCancel = false)
        val start = System.currentTimeMillis()
        val c0 = System.nanoTime()
        val res = scala.util.Try {
          val df = fns(n)()
          val c1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (c1 - c0) / 1e6
        }
        val totalMs = (System.nanoTime() - c0) / 1e6
        sc.clearJobGroup()
        res.failed.foreach(e =>
          System.err.println(s"[perfbench] $n failed: ${e.getMessage}"))
        calls += Map("name" -> n, "pass" -> pass, "group" -> group,
          "start_ms" -> start, "end_ms" -> System.currentTimeMillis(),
          "ms" -> totalMs, "construct_ms" -> res.toOption,
          "ok" -> res.isSuccess)
      }
      pass += 1
    }
    Map(
      "stage_s" -> stageS, "stage_parts_s" -> stageParts, "warmup_s" -> (warmupS + tablesS),
      "first_op_ms" -> firstOpMs,
      "loadavg_workload" -> Seq(loadStart, loadavg),
      "catalog" -> catalog.keys.toSeq.sorted,
      "digests" -> digests, "calls" -> calls.toSeq, "passes" -> pass)
  }
}
