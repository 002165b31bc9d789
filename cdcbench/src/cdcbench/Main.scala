package cdcbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.CdcParams
import graft.operators.{CdcApply, CdcEnrichment, ExactlyOnce, KafkaProjection}
import graft.sources.CdcReplay
import graft.streaming.CdcPipeline

/** One benchmark run: one workload, one seed, untraced or traced.
  *
  * The untraced pass runs the program's own streaming assembly as a live
  * query and yields every end-to-end metric. A traced run repeats the
  * untraced pass (for its engine, executor and JVM counters, and as the
  * baseline of the tracing overhead), then runs a second pass over the
  * same inputs whose `foreachBatch` calls each layer's public function in
  * turn, persisting its output, with a span around each call.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path, result: Path)

  /** Workload sizing, proportional to `--seconds`. Both workloads are
    * closed loops of one-file rounds: each measured file lands when the one
    * before is visible, and the program reads one file per trigger, so a
    * file's latency is the time of the micro-batch that reads it, with no
    * queueing in front of it. Throughput counts the rounds' times, not the
    * gaps between them. The `warm` warm-up files go through the running
    * query first, until the per-batch time has mostly stopped falling.
    */
  final case class Workload(name: String, files: Int, rowsPerFile: Int, warm: Int,
      warmRows: Int, produce: Boolean) {
    def inputs(seed: Long): Gen.Inputs =
      if (produce) Gen.snapshot(seed, files, rowsPerFile, warm, warmRows)
      else Gen.replica(seed, ReplicaKeys, warm + files, rowsPerFile, 1.1, warm)
  }

  val ReplicaKeys = 50000
  val Partitions: Int = Oracle.Partitions
  /** input generation runs this often in set-up; the median counts */
  val GenRepeats = 3

  def workload(name: String, seconds: Int): Workload = name match {
    case "snapshot_bulk" => Workload(name, seconds, 24000, 5, 24000, produce = true)
    case "replica_apply" =>
      Workload(name, seconds, 2500, 8, 2500, produce = false)
    case other => sys.error(s"unknown workload $other")
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("out")).toAbsolutePath,
      Paths.get(kv("result")).toAbsolutePath)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Everything a pass needs. */
  final class Ctx(val spark: SparkSession, val cores: Int, val w: Workload,
      val in: Gen.Inputs, val staged: Path) {
    val engine = new EngineListener
    val taskL = new TaskListener
    spark.streams.addListener(engine)
    spark.sparkContext.addSparkListener(taskL)
    def counters(): Counters = {
      org.apache.spark.cdcbench.Bus.drain(spark.sparkContext)
      Counters.fs ++ taskL.snapshot
    }
    def close(): Unit = {
      spark.streams.removeListener(engine)
      spark.sparkContext.removeSparkListener(taskL)
    }
  }

  /** Events committed in one round, from its landing to its last visible
    * commit (System.nanoTime).
    */
  final case class Round(events: Long, start: Long, end: Long) {
    def rate: Double = Stats.eventsPerSec(events, start, end)
  }

  /** What one pass measured. Times are System.nanoTime. */
  final case class Pass(check: Oracle.Check, landedEvents: Long, committed: Long,
      rounds: Seq[Round], firstLanding: Long, firstLandingWallMs: Long,
      lastVisible: Long, latencies: Array[Double],
      batches: Seq[EngineListener#Batch], tasks: Counters, heapPeakMb: Double,
      gcMs: Double, txns: Long, records: Long, aborts: Long, setupPhases: Map[String, Double]) {
    def wallMs: Double = (lastVisible - firstLanding) / 1e6
    /** committed events over the summed round times; the gaps between
      * rounds, where the benchmark waits for progress events, do not count
      */
    def eventsPerSec: Double =
      Stats.eventsPerSec(rounds.map(_.events).sum, 0L, rounds.map(r => r.end - r.start).sum)
    def phase(k: String): Seq[Double] = batches.map(_.durations.getOrElse(k, 0L).toDouble)
    def triggerMs: Double = phase("triggerExecution").sum
  }

  /** Reads, once the query has drained, the oracle check over `all` files
    * and when each of the `measured` files became visible.
    */
  type Visible = (Seq[Int], Seq[Int]) => (Oracle.Check, Stats.Visibility, Long)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator.asScala.foreach(Files.delete)

  /** Moves staged files into the zone. */
  final class Lander(files: Seq[Int], stage: Path, zone: Path) {
    val landed = new Array[Long](files.length)
    val landedWallMs = new Array[Long](files.length)
    def land(i: Int): Unit = {
      Files.move(stage.resolve(Gen.fileName(files(i))), zone.resolve(Gen.fileName(files(i))),
        StandardCopyOption.ATOMIC_MOVE)
      landed(i) = System.nanoTime()
      landedWallMs(i) = System.currentTimeMillis()
    }
    def landAll(): Unit = files.indices.foreach(land)
  }

  /** Drains the query, then waits for one progress event per file read
    * (they trail the batch commit).
    */
  private def drain(c: Ctx, q: StreamingQuery, batches: Int): Unit = {
    q.processAllAvailable()
    val deadline = System.nanoTime() + 10000000000L
    while (c.engine.batches.size < batches && System.nanoTime() < deadline) {
      org.apache.spark.cdcbench.Bus.drain(c.spark.sparkContext)
      Thread.sleep(10)
    }
  }

  /** Runs one pass in the fresh directory `dir`: `prepare` runs, the warm-up
    * files land and `start` starts the query on the zone's parent; once
    * they are drained the clock starts and the `measured` files land one
    * at a time, each when the one before is drained. `visible` reads the
    * outcome.
    */
  def runPass(c: Ctx, dir: Path, measured: Seq[Int], prepare: () => Unit = () => ())(
      start: String => StreamingQuery)(visible: Visible): Pass = {
    deleteTree(dir)
    val stage = Files.createDirectories(dir.resolve("stage"))
    val zoneParent = dir.resolve("zone")
    val zone = Files.createDirectories(zoneParent.resolve("events.parquet"))
    val warm = 0 until c.in.warm
    (warm ++ measured).foreach(f =>
      Files.copy(c.staged.resolve(Gen.fileName(f)), stage.resolve(Gen.fileName(f))))
    val t0 = System.nanoTime()
    prepare()
    val t1 = System.nanoTime()
    Recorder.reset()
    c.engine.reset()
    epochDone.clear()
    new Lander(warm, stage, zone).landAll()
    val q = start(zoneParent.toString)
    try {
      drain(c, q, warm.length)
      val t2 = System.nanoTime()
      c.engine.reset()
      val lander = new Lander(measured, stage, zone)
      val tasks0 = c.counters()
      val gc0 = Counters.gcMs
      val txns0 = Recorder.txns.size
      Counters.resetHeapPeak()
      measured.indices.foreach { i =>
        lander.land(i)
        drain(c, q, i + 1)
      }
      val (check, vis, lastVisible) = visible(warm ++ measured, measured)
      val rounds = measured.indices.map(i =>
        Round(vis.seen(i).toLong, lander.landed(i), vis.visibleAt(i)))
      val tasks = c.counters() - tasks0
      val batches = c.engine.all
      val sizes = measured.map(f => c.in.files(f).events.length).toArray
      val txns = Recorder.txns.iterator.asScala.drop(txns0).toSeq
      Pass(check, sizes.map(_.toLong).sum, vis.seen.map(_.toLong).sum, rounds,
        lander.landed.min, lander.landedWallMs.min, lastVisible,
        Stats.latenciesMs(lander.landed, sizes, vis), batches, tasks, Counters.heapPeakMb,
        Counters.gcMs - gc0, txns.length.toLong, txns.map(_.keys.length.toLong).sum,
        Recorder.aborts.get, Map("prepare_s" -> (t1 - t0) / 1e9, "warm_up_s" -> (t2 - t1) / 1e9))
    } finally q.stop()
  }

  // --------------------------------------------------------------- produce

  def produceParams(dir: Path): CdcParams = CdcParams(topic = "cdc_topic",
    topicPrefix = "flink_cdc_", deliveryGuarantee = "exactly_once",
    checkpointDir = dir.resolve("ckpt").toString, checkpointInterval = 0,
    tablePk = Oracle.ProduceTablePk)

  /** Each record is visible at its task's commit; the committed records
    * are checked against the oracle.
    */
  def produceVisible(c: Ctx): Visible = (all, measured) => {
    val pos = measured.zipWithIndex.toMap
    val fileOf = c.in.fileOf
    val txns = Recorder.txns.iterator.asScala.toSeq
    val vis = Stats.visibility(measured.length, txns.iterator.map { t =>
      (t.commitNanos, t.keys.iterator.map { k =>
        Option(k).filter(_.startsWith("test_db.events.")).flatMap(_.drop(15).toLongOption)
          .filter(i => i >= 0 && i < fileOf.length).flatMap(i => pos.get(fileOf(i.toInt)))
          .getOrElse(-1)
      })
    })
    val check = Oracle.checkProduced(
      all.iterator.flatMap(f => c.in.files(f).events.iterator), Recorder.produced)
    (check, vis, if (txns.isEmpty) 0L else txns.map(_.commitNanos).max)
  }

  /** The program's exactly-once produce assembly, as is. */
  def produceQuery(c: Ctx, dir: Path)(zone: String): StreamingQuery = {
    val p = produceParams(dir)
    CdcPipeline.transactionalSink(CdcPipeline.build(c.spark, zone, p, Partitions), p,
      b => new RecordingProducer(b)).start()
  }

  private def persisted(s: Tracer#Ctx, df: DataFrame): DataFrame = {
    val d = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    s.add("rows", d.count().toDouble)
    d
  }

  /** Source and enrichment, one span each; the enrichment output is
    * persisted and returned with everything to unpersist.
    */
  private def tracedFront(c: Ctx, tr: Tracer, batch: DataFrame, batchId: Long, root: Int,
      cfg: graft.config.TablePkConfig): (DataFrame, Seq[DataFrame]) = {
    implicit val spark: SparkSession = c.spark
    import spark.implicits._
    val env = tr.span("source.envelope", batchId, root, c.counters _) { s =>
      persisted(s, CdcReplay.envelopeJson(CdcReplay.envelope(batch)))
    }
    val enriched = tr.span("enrich", batchId, root, c.counters _) { s =>
      persisted(s, CdcEnrichment.enrichMySql(env.as[String], cfg).toDF())
    }
    (enriched, Seq(env, enriched))
  }

  private def tracedStart(c: Ctx, zone: String, ckpt: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    CdcReplay.rawEventsStream(c.spark, zone).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => body(batch, batchId) }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .start()

  def produceTraced(c: Ctx, dir: Path, tr: Tracer)(zone: String): StreamingQuery = {
    val p = produceParams(dir)
    val ledger = p.checkpointDir.stripSuffix("/") + "/ledger"
    tracedStart(c, zone, p.checkpointDir + "/ckpt") { (batch, batchId) =>
      tr.span("batch", batchId, -1, c.counters _) { root =>
        val (enriched, held) = tracedFront(c, tr, batch, batchId, root.id, p.tablePkConfig)
        val projected = tr.span("project", batchId, root.id, c.counters _) { s =>
          persisted(s, KafkaProjection.project(enriched, p.topic, p.topicPrefix, Partitions))
        }
        tr.span("sink", batchId, root.id, c.counters _) { _ =>
          ExactlyOnce.foreachBatchTransactionalKafka(ledger, b => new RecordingProducer(b))(
            projected, batchId)
        }
        tr.span("trace.census", batchId, root.id, c.counters _) { s =>
          s.add("no_pk_rows", noPk(enriched))
        }
        (held :+ projected).foreach(_.unpersist())
      }
    }
  }

  private def noPk(enriched: DataFrame): Double =
    enriched.filter(col("partitionKey").endsWith(".no_pk")).count().toDouble

  // ----------------------------------------------------------------- apply

  val applyParams: CdcParams = CdcParams(tablePk = Oracle.ApplyTablePk)

  /** return time of each epoch's materializer call, by batch id */
  val epochDone = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  private def materialize(c: Ctx, replica: String)(batch: DataFrame, epoch: Long): Unit =
    CdcApply.materializerVersioned(c.spark, replica,
      numBuckets = applyParams.replicaBuckets,
      tombstoneHorizonMs = applyParams.tombstoneHorizonMs,
      retain = applyParams.replicaRetain)(batch, epoch)

  /** Loads the parquet files under `parquet` as epoch 0: a Debezium snapshot read (op `r`,
    * after-image only) through the program's envelope and enrichment.
    */
  def preload(c: Ctx, replica: String, parquet: Path): Unit = {
    implicit val spark: SparkSession = c.spark
    import spark.implicits._
    val env = CdcReplay.envelope(graft.queries.Tables.normalizeEventsTs(
        spark.read.parquet(parquet.toString)))
      .withColumn("after", coalesce(col("after"), col("before")))
      .withColumn("before", lit(null).cast("map<string,string>"))
      .withColumn("op", lit("r"))
    materialize(c, replica)(CdcEnrichment.enrichMySql(
      CdcReplay.envelopeJson(env).as[String], applyParams.tablePkConfig).toDF(), 0L)
  }

  /** The apply assembly: replay → enrichment → versioned materializer,
    * epoch = batchId + 1 (epoch 0 is the preload).
    */
  def applyQuery(c: Ctx, dir: Path)(zone: String): StreamingQuery = {
    implicit val spark: SparkSession = c.spark
    import spark.implicits._
    val replica = dir.resolve("replica").toString
    CdcEnrichment.enrichMySql(CdcReplay.stream(spark, zone).as[String],
        applyParams.tablePkConfig).toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        materialize(c, replica)(batch, batchId + 1)
        epochDone.put(batchId, System.nanoTime())
        ()
      }
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
  }

  def applyTraced(c: Ctx, dir: Path, tr: Tracer)(zone: String): StreamingQuery = {
    val replica = dir.resolve("replica").toString
    tracedStart(c, zone, dir.resolve("ckpt").toString) { (batch, batchId) =>
      tr.span("batch", batchId, -1, c.counters _) { root =>
        val (enriched, held) =
          tracedFront(c, tr, batch, batchId, root.id, applyParams.tablePkConfig)
        tr.span("sink", batchId, root.id, c.counters _) { _ =>
          materialize(c, replica)(enriched, batchId + 1)
        }
        epochDone.put(batchId, System.nanoTime())
        tr.span("trace.census", batchId, root.id, c.counters _) { s =>
          s.add("no_pk_rows", noPk(enriched))
          val (buckets, rows) = epochWrites(Paths.get(replica), batchId + 1)
          s.add("buckets_written", buckets.toDouble)
          s.add("rows_written", rows.toDouble)
        }
        held.foreach(_.unpersist())
      }
    }
  }

  /** Buckets and rows one epoch wrote, from its parquet footers. */
  def epochWrites(replica: Path, epoch: Long): (Long, Long) = {
    val d = replica.resolve(s"state-$epoch")
    if (!Files.isDirectory(d)) (0L, 0L)
    else {
      val buckets = Files.list(d).iterator.asScala
        .filter(_.getFileName.toString.startsWith("__bucket=")).toSeq
      val conf = new org.apache.hadoop.conf.Configuration()
      val rows = buckets.flatMap(b => Files.list(b).iterator.asScala
          .filter(_.getFileName.toString.endsWith(".parquet")))
        .map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toUri), conf))
          try r.getRecordCount finally r.close()
        }.sum
      (buckets.length.toLong, rows)
    }
  }

  /** Bytes of the replica's data files (the ledger excluded). */
  def stateBytes(replica: Path): Long =
    Files.walk(replica).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.toString.contains("_ledger") &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => Files.size(p)).sum

  /** Which batch read which landed file, from the file source's log. */
  def batchOfFile(ckpt: Path): Map[Int, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val Entry = """"path":"[^"]*part-(\d+)\.parquet"[^}]*"batchId":(\d+)""".r
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator.asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap { f =>
        Entry.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
          .map(m => m.group(1).toInt -> m.group(2).toLong)
      }.toMap
  }

  /** A file is visible when the epoch that read it returns; the replica
    * is then checked against the oracle.
    */
  def applyVisible(c: Ctx, dir: Path): Visible = (all, measured) => {
    val batchOf = batchOfFile(dir.resolve("ckpt"))
    val vis = Stats.visibility(measured.length, measured.indices.iterator.map { i =>
      val t = batchOf.get(measured(i)).flatMap(b => Option(epochDone.get(b))).map(_.longValue)
      (t.getOrElse(Long.MinValue),
        Iterator.fill(if (t.isDefined) c.in.files(measured(i)).events.length else 0)(i))
    })
    val expected = Oracle.expectedReplica(c.in.preload.iterator,
      all.iterator.flatMap(f => c.in.files(f).events.iterator))
    val actual = CdcApply.replicaVersioned(c.spark, dir.resolve("replica").toString)
      .select(col("partitionKey"), col("after"), col("ts_ms"), col("pos"))
      .collect().iterator.map(r => Oracle.Row(r.getString(0),
        r.getMap[String, String](1).toMap, r.getLong(2), r.getLong(3)))
    val attempted = all.map(f => c.in.files(f).events.length.toLong).sum
    val done = vis.visibleAt.filter(_ != Long.MinValue)
    (Oracle.checkReplica(attempted, expected, actual), vis, if (done.isEmpty) 0L else done.max)
  }

  // --------------------------------------------------------------- passes

  /** The untraced pass over the measured files of the workload. */
  def untracedPass(c: Ctx, dir: Path, preloadFile: Path,
      measured: Seq[Int] = Nil): Pass = {
    val files = if (measured.isEmpty) c.in.measured else measured
    if (c.w.produce)
      runPass(c, dir, files)(produceQuery(c, dir))(produceVisible(c))
    else
      runPass(c, dir, files, () => preload(c, dir.resolve("replica").toString, preloadFile))(
        applyQuery(c, dir))(applyVisible(c, dir))
  }

  def tracedPass(c: Ctx, dir: Path, preloadFile: Path, tr: Tracer): Pass =
    if (c.w.produce)
      runPass(c, dir, c.in.measured)(produceTraced(c, dir, tr))(produceVisible(c))
    else
      runPass(c, dir, c.in.measured,
        () => preload(c, dir.resolve("replica").toString, preloadFile))(
        applyTraced(c, dir, tr))(applyVisible(c, dir))

  type Metrics = Seq[(String, (Double, String))]

  def endToEnd(setupS: Double, p: Pass): Metrics = Seq(
    "setup_s" -> (setupS, "s"),
    "events_per_s" -> (p.eventsPerSec, "events/s"),
    "latency_p50_ms" -> (Stats.quantile(p.latencies.toSeq, 0.5), "ms"),
    "latency_p75_ms" -> (Stats.quantile(p.latencies.toSeq, 0.75), "ms"),
    "latency_p90_ms" -> (Stats.quantile(p.latencies.toSeq, 0.9), "ms"))

  /** Layer metrics the untraced pass yields (no spans needed). */
  def untracedLayers(c: Ctx, p: Pass): Metrics = {
    val n = math.max(1, p.batches.length)
    Seq(
      "gen.files" -> (p.rounds.length.toDouble, "count"),
      "gen.events" -> (p.landedEvents.toDouble, "count"),
      "engine.batches" -> (p.batches.length.toDouble, "count"),
      "engine.share" -> (1 - p.phase("addBatch").sum / math.max(1e-9, p.triggerMs), "frac")) ++
    Seq("latestOffset" -> "latest_offset", "queryPlanning" -> "query_planning",
        "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
        "commitOffsets" -> "commit_offsets", "triggerExecution" -> "trigger").flatMap {
      case (k, name) => Seq(
        s"engine.${name}_ms" -> (Stats.mean(p.phase(k)), "ms"),
        s"engine.${name}_ms_p50" -> (Stats.quantile(p.phase(k), 0.5), "ms"))
    } ++ Seq(
      "sink.txns" -> (p.txns.toDouble, "count"),
      "sink.records_per_txn" -> (if (p.txns == 0) 0.0 else p.records.toDouble / p.txns, "count"),
      "sink.aborts" -> (p.aborts.toDouble, "count"),
      "spark.tasks_per_batch" -> (p.tasks("tasks") / n, "count"),
      "spark.cores_busy_frac" -> (p.tasks("task_run_ms") / (p.wallMs * c.cores), "frac"),
      "spark.shuffle_bytes" -> (p.tasks("shuffle_bytes"), "bytes"),
      "spark.task_cpu_ms" -> (p.tasks("task_cpu_ms"), "ms"),
      "jvm.heap_peak_mb" -> (p.heapPeakMb, "MB"),
      "jvm.gc_ms" -> (p.gcMs, "ms"))
  }

  /** Layer metrics from the traced pass's spans. Shares are of the summed
    * trigger time; `engine` is trigger time outside addBatch.
    */
  def tracedLayers(c: Ctx, untraced: Pass, traced: Pass, tr: Tracer, dir: Path): Metrics = {
    // spans of the warm-up batches (one per warm-up file) do not count
    def named(name: String) = tr.named(name).filter(_.traceId >= c.in.warm)
    def self(name: String) = named(name).map(tr.selfMs).sum
    def counter(name: String, k: String) = named(name).map(_.counters.getOrElse(k, 0.0))
    val sinkMs = named("sink").map(_.ms)
    val rowsIn = counter("source.envelope", "rows").sum
    val rowsOut = counter("enrich", "rows").sum
    val total = math.max(1e-9, traced.triggerMs)
    val engineMs = traced.triggerMs - traced.phase("addBatch").sum
    val shares = Seq("engine" -> engineMs, "source" -> self("source.envelope"),
      "enrich" -> self("enrich"), "project" -> self("project"), "sink" -> self("sink"),
      "trace" -> (self("batch") + self("trace.census")))
    val apply = if (c.w.produce) Seq.empty else Seq(
      "apply.epoch_ms_p50" -> (Stats.quantile(sinkMs, 0.5), "ms"),
      "apply.epoch_ms_p90" -> (Stats.quantile(sinkMs, 0.9), "ms"),
      "apply.fs_read_ops" -> (Stats.mean(counter("sink", "fs_read_ops")), "count"),
      "apply.fs_write_ops" -> (Stats.mean(counter("sink", "fs_write_ops")), "count"))
    val produce = if (!c.w.produce) Seq.empty else Seq(
      "project.ms" -> (self("project"), "ms"),
      "sink.produce_ms" -> (self("sink"), "ms"))
    Seq(
      "source.envelope_ms" -> (self("source.envelope"), "ms"),
      "enrich.ms" -> (self("enrich"), "ms"),
      "enrich.rows_in" -> (rowsIn, "count"),
      "enrich.rows_out" -> (rowsOut, "count"),
      "enrich.kept_frac" -> (if (rowsIn == 0) 0.0 else rowsOut / rowsIn, "frac"),
      "enrich.no_pk_rows" -> (counter("trace.census", "no_pk_rows").sum, "count"),
      "sink.ms" -> (self("sink"), "ms"),
      "sink.epoch_ms_p50" -> (Stats.quantile(sinkMs, 0.5), "ms"),
      "sink.epoch_ms_p90" -> (Stats.quantile(sinkMs, 0.9), "ms"),
      "sink.fs_read_ops" -> (Stats.mean(counter("sink", "fs_read_ops")), "count"),
      "sink.fs_write_ops" -> (Stats.mean(counter("sink", "fs_write_ops")), "count"),
      "apply.buckets_written" -> (Stats.mean(counter("trace.census", "buckets_written")), "count"),
      "apply.rows_written_per_change" -> (
        if (c.w.produce || rowsOut == 0) 0.0
        else counter("trace.census", "rows_written").sum / rowsOut, "ratio"),
      "apply.state_bytes" -> (
        if (c.w.produce) 0.0 else stateBytes(dir.resolve("replica")).toDouble, "bytes"),
      "trace.overhead_frac" -> (traced.triggerMs / math.max(1e-9, untraced.triggerMs) - 1, "frac")) ++
    shares.map { case (k, v) => s"trace.share_$k" -> (v / total, "frac") } ++ apply ++ produce
  }

  /** Trigger time per file at local[n] over local[1], on the first two
    * files, in a fresh single-core session.
    */
  def parallelSpeedup(a: Args, c: Ctx, untraced: Pass): Double = {
    c.close()
    c.spark.stop()
    val one = new Ctx(session(1, a.work), 1, c.w, c.in, c.staged)
    val p = untracedPass(one, a.work.resolve("local1"), c.staged, c.in.measured.take(2))
    one.close()
    Stats.mean(p.phase("triggerExecution")) / Stats.mean(untraced.phase("triggerExecution"))
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat: time the
    * hypervisor gave this machine's vCPUs to someone else.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of the machine's CPU time the hypervisor took between two
    * `cpuTicks` readings.
    */
  def stealFrac(t0: (Long, Long), t1: (Long, Long)): Double =
    (t1._1 - t0._1).toDouble / math.max(1L, t1._2 - t0._2)

  def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Seq.empty }

  private def combined(a: Oracle.Check, b: Oracle.Check): Oracle.Check =
    Oracle.Check(a.attempted, a.missing + b.missing, a.duplicated + b.duplicated,
      a.mismatched + b.mismatched, a.unexpected + b.unexpected)

  private def asJson(m: Metrics): Map[String, Map[String, Any]] =
    m.map { case (k, (v, u)) => k -> Map[String, Any]("value" -> v, "unit" -> u) }.toMap

  // ------------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadavg()
    val ticks0 = cpuTicks()
    val cores = Runtime.getRuntime.availableProcessors
    val w = workload(a.workload, a.seconds)
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val spark = session(cores, a.work)
    val sessionReadyMs = System.currentTimeMillis()

    // set-up: input generation and staging, repeated; the median counts
    val gens = (1 to GenRepeats).map { k =>
      val t0 = System.nanoTime()
      val in = w.inputs(a.seed)
      val dir = a.work.resolve(s"staged-$k")
      deleteTree(dir)
      Gen.stage(in, dir)
      if (!w.produce) Gen.stagePreload(in, dir.resolve("preload"), cores)
      (System.nanoTime() - t0, in, dir)
    }
    val (_, in, staged) = gens.last
    val preloadFile = staged.resolve("preload")

    val c = new Ctx(spark, cores, w, in, staged)
    val untraced = untracedPass(c, a.work.resolve("pass"), preloadFile)
    val ticksUntraced = cpuTicks()
    val genS = gens.map(_._1 / 1e9)
    val setupS = (untraced.firstLandingWallMs - jvmStartMs) / 1000.0 - genS.sum +
      Stats.quantile(genS, 0.5)
    val e2e = endToEnd(setupS, untraced)

    var check = untraced.check
    var layers: Metrics = Nil
    var spans: Seq[Map[String, Any]] = Nil
    if (a.trace) {
      val tr = new Tracer
      val dir = a.work.resolve("traced")
      val traced = tracedPass(c, dir, preloadFile, tr)
      check = combined(check, traced.check)
      layers = untracedLayers(c, untraced) ++ tracedLayers(c, untraced, traced, tr, dir)
      spans = tr.all.map(s => Map("name" -> s.name, "trace_id" -> s.traceId,
        "span_id" -> s.id, "parent" -> s.parent, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_ms" -> tr.selfMs(s), "counters" -> s.counters))
      layers :+= "spark.parallel_speedup" -> (
        (if (w.name == "snapshot_bulk") parallelSpeedup(a, c, untraced) else 0.0, "ratio"))
    }

    val load1 = loadavg()
    val ticks1 = cpuTicks()
    val result = Map(
      "correct" -> (check.failed == 0 && untraced.committed > 0),
      "attempted" -> check.attempted,
      "failed" -> math.min(check.failed, check.attempted),
      "metrics" -> asJson(if (a.trace) layers else e2e))
    val artifact = Map(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "host" -> Map("nproc" -> cores, "loadavg_start" -> load0, "loadavg_end" -> load1,
        "java" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "scala" -> scala.util.Properties.versionNumberString,
        "cpu_steal_frac" -> stealFrac(ticks0, ticks1),
        "cpu_steal_frac_untraced" -> stealFrac(ticks0, ticksUntraced)),
      "shape" -> Map("files" -> w.files, "rows_per_file" -> w.rowsPerFile,
        "warm_files" -> w.warm, "warm_rows_per_file" -> w.warmRows,
        "preload_keys" -> in.preload.length),
      "setup" -> Map("gen_s" -> genS,
        "session_s" -> (sessionReadyMs - jvmStartMs) / 1000.0,
        "pass" -> untraced.setupPhases,
        "first_landing_s_after_jvm_start" -> (untraced.firstLandingWallMs - jvmStartMs) / 1000.0),
      "oracle" -> check.asMap,
      "end_to_end" -> asJson(e2e),
      "per_layer" -> asJson(layers),
      "latencies_ms" -> untraced.latencies.toSeq,
      "round_events_per_s" -> untraced.rounds.map(_.rate),
      "engine_batches" -> untraced.batches.map(b => Map("batch_id" -> b.batchId,
        "rows" -> b.rows, "duration_ms" -> b.durations)),
      "spans" -> spans)
    val art = a.out.resolve(s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    Files.write(art, Json(artifact).getBytes("UTF-8"))
    Files.write(a.result, Json(result).getBytes("UTF-8"))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
