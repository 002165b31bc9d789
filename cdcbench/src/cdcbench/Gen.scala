package cdcbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generator. Every workload's input is a list of files the
  * generator lands in the program's landing zone; the program only ever
  * sees those parquet files.
  *
  * Rows have the `events` fixture's shape and value distributions
  * (event_id, ts TIMESTAMP(MICROS) without zone, user_id uniform over
  * 0..1499, event_type uniform over five kinds, value exponential with mean
  * 50 at two decimals, props `{"k": n}` with n uniform over 0..99; the
  * fixture's statistics are in LAYERS.md), synthesized here so the
  * benchmark reads nothing outside its checkout. The op of a change is fixed by the
  * program's replay source as `event_id % 10` (0 delete, 1 update, else
  * create), so every id keeps one op.
  */
object Gen {
  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")
  /** 2024-01-01T00:00:00Z, the fixture's first day. */
  val BaseSec = 1704067200L

  final case class Ev(id: Long, tsMicros: Long, userId: Long, eventType: String,
      cents: Int, props: String)

  /** One landed file. */
  final case class LandFile(index: Int, events: Array[Ev])

  /** A workload's input: the files to land, of which the first `warm` warm
    * the running query up before timing starts, and, for the apply
    * workload, the snapshot rows the replica is preloaded with as epoch 0.
    */
  final case class Inputs(files: Array[LandFile], preload: Array[Ev], warm: Int) {
    def measured: Seq[Int] = warm until files.length
    /** file index of each event id (ids are dense from 0); -1 if none */
    lazy val fileOf: Array[Int] = {
      val maxId = (files.iterator.flatMap(_.events.iterator).map(_.id) ++
        preload.iterator.map(_.id)).foldLeft(-1L)(math.max)
      val a = Array.fill((maxId + 1).toInt)(-1)
      files.foreach(f => f.events.foreach(e => a(e.id.toInt) = f.index))
      a
    }
  }

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private def event(r: SplittableRandom, id: Long, tsMicros: Long): Ev =
    Ev(id, tsMicros, r.nextInt(1500).toLong, EventTypes(r.nextInt(EventTypes.length)),
      math.round(-math.log(1 - r.nextDouble()) * 5000).toInt, s"""{"k": ${r.nextInt(100)}}""")

  /** `warm` files of `warmRows` fresh ids each, ids from 0. */
  private def warmFiles(r: SplittableRandom, warm: Int, warmRows: Int): Array[LandFile] =
    Array.tabulate(warm)(f => LandFile(f, Array.tabulate(warmRows) { j =>
      val id = f.toLong * warmRows + j
      event(r, id, (BaseSec + id) * 1000000L + r.nextInt(1000000))
    }))

  /** Initial load: `files * rowsPerFile` fresh ids in seeded random order,
    * after `warm` warm-up files.
    */
  def snapshot(seed: Long, files: Int, rowsPerFile: Int, warm: Int, warmRows: Int): Inputs = {
    val r = rng(seed, 1)
    val base = warm * warmRows
    val n = files * rowsPerFile
    val order = (0 until n).toArray
    var i = n - 1
    while (i > 0) { // Fisher-Yates
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1
    }
    val warmUp = warmFiles(r, warm, warmRows)
    val all = order.map { k =>
      val id = base + k
      event(r, id, (BaseSec + id / 2) * 1000000L + r.nextInt(1000000))
    }
    Inputs(warmUp ++ Array.tabulate(files)(f =>
      LandFile(warm + f, all.slice(f * rowsPerFile, (f + 1) * rowsPerFile))),
      Array.empty, warm)
  }

  /** Replica apply: `keys` preloaded rows at ts BaseSec, then
    * `files * rowsPerFile` changes (the first `warm` files warm-up) whose keys are drawn Zipf(`zipfS`) over
    * the preloaded keyspace (hot ranks scattered over the keys by a seeded
    * permutation). Change j has ts BaseSec + 1 + j seconds, so versions
    * ordered by (ts_ms, pos) follow the change list exactly.
    */
  def replica(seed: Long, keys: Int, files: Int, rowsPerFile: Int,
      zipfS: Double, warm: Int): Inputs = {
    val r = rng(seed, 3)
    val preload = Array.tabulate(keys)(k =>
      event(r, k, BaseSec * 1000000L + r.nextInt(1000000)))
    val rankToKey = (0 until keys).toArray
    var i = keys - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = rankToKey(i); rankToKey(i) = rankToKey(j)
      rankToKey(j) = t; i -= 1
    }
    val cdf = new Array[Double](keys)
    var acc = 0.0
    var k = 0
    while (k < keys) { acc += 1.0 / math.pow(k + 1, zipfS); cdf(k) = acc; k += 1 }
    def draw(): Int = {
      val u = r.nextDouble() * acc
      val pos = java.util.Arrays.binarySearch(cdf, u)
      rankToKey(math.min(keys - 1, if (pos >= 0) pos else -pos - 1))
    }
    var seq = 0L
    val fs = Array.tabulate(files) { f =>
      LandFile(f, Array.fill(rowsPerFile) {
        seq += 1
        event(r, draw().toLong, (BaseSec + seq) * 1000000L + r.nextInt(1000000))
      })
    }
    Inputs(fs, preload, warm)
  }

  // ------------------------------------------------------------- parquet

  private val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message events {
      |  optional int64 event_id;
      |  optional int64 ts (TIMESTAMP(MICROS,false));
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /** Writes `events` as one snappy parquet file at `path` (no .crc). */
  def writeParquet(path: Path, events: Array[Ev]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val conf = new org.apache.hadoop.conf.Configuration()
    val hp = new org.apache.hadoop.fs.Path(path.toAbsolutePath.toUri)
    val out = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(hp, conf)
    val w = ExampleParquetWriter.builder(out)
      .withType(schema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val g = new SimpleGroupFactory(schema)
    try events.foreach { e =>
      w.write(g.newGroup()
        .append("event_id", e.id)
        .append("ts", e.tsMicros)
        .append("user_id", e.userId)
        .append("event_type", e.eventType)
        .append("value", e.cents / 100.0)
        .append("props", e.props))
    } finally w.close()
    Files.deleteIfExists(path.resolveSibling("." + path.getFileName + ".crc"))
  }

  /** Writes every file of `in` into `dir` as part-NNNNN.parquet, files in
    * parallel (each file's bytes depend only on its rows).
    */
  def stage(in: Inputs, dir: Path): Unit = {
    Files.createDirectories(dir)
    java.util.Arrays.stream(in.files).parallel().forEach(f =>
      writeParquet(dir.resolve(fileName(f.index)), f.events))
  }

  /** Writes the preload rows into `dir` as `parts` files, so that the
    * set-up's snapshot read runs as `parts` tasks.
    */
  def stagePreload(in: Inputs, dir: Path, parts: Int): Unit = {
    Files.createDirectories(dir)
    val n = math.max(1, (in.preload.length + parts - 1) / parts)
    java.util.Arrays.stream(in.preload.grouped(n).zipWithIndex.toArray).parallel().forEach {
      case (rows, i) => writeParquet(dir.resolve(fileName(i)), rows)
    }
  }

  def fileName(index: Int): String = f"part-$index%05d.parquet"
}
