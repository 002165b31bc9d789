package cdcbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The benchmark's own tests: input determinism, latency accounting on a
  * fake clock, and both oracles catching planted faults. Run with
  * `python3 cdcbench/run.py --self-test`; exits non-zero on a failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => println(s"  $e"); false }
    if (!r) failures += 1
    println(s"${if (r) "PASS" else "FAIL"} $name")
  }

  private def digests(dir: Path): Map[String, String] =
    Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_)).toSeq.map { f =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      dir.relativize(f).toString -> md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    }.toMap

  private def staged(root: Path, name: String, in: Gen.Inputs): Map[String, String] = {
    val d = root.resolve(name)
    Gen.stage(in, d)
    if (in.preload.nonEmpty) Gen.stagePreload(in, d.resolve("preload"), 4)
    digests(d)
  }

  def determinism(root: Path): Unit = {
    val gens = Seq[(String, Long => Gen.Inputs)](
      "snapshot" -> (s => Gen.snapshot(s, 3, 400, 1, 100)),
      "replica" -> (s => Gen.replica(s, 1000, 3, 200, 1.1, 1)))
    gens.foreach { case (name, g) =>
      val a = staged(root, s"$name-a", g(7))
      val b = staged(root, s"$name-b", g(7))
      val c = staged(root, s"$name-c", g(8))
      check(s"$name: the same seed gives byte-identical files")(a.nonEmpty && a == b)
      check(s"$name: another seed gives other files")(a.keySet == c.keySet && a != c)
    }
    val in = Gen.snapshot(7, 4, 250, 1, 50)
    check("snapshot: every id lands exactly once, warm-up ids first")(
      in.files.flatMap(_.events.map(_.id)).sorted.toSeq == (0L until 1050L) &&
        in.files(0).events.map(_.id).toSeq == (0L until 50L))
    val r = Gen.replica(7, 500, 4, 300, 1.1, 1)
    val changes = r.files.flatMap(_.events)
    check("replica: change times rise by at least a second per change")(
      changes.sliding(2).forall(p => Oracle.tsMs(p(1)) >= Oracle.tsMs(p(0)) + 1000) &&
        Oracle.tsMs(changes.head) > r.preload.map(Oracle.tsMs).max)
    check("replica: changes hit preloaded keys, the hottest key most often")({
      val counts = changes.groupBy(_.id).view.mapValues(_.length).toMap
      counts.keySet.subsetOf(r.preload.map(_.id).toSet) && counts.values.max > 20 * 1200 / 500
    })
  }

  def latency(): Unit = {
    val ms = 1000000L
    // three files landed at 0, 1 s and 2 s holding 2, 2 and 1 events
    val landed = Array(0L, 1000 * ms, 2000 * ms)
    val sizes = Array(2, 2, 1)
    val commits = Seq(
      (500 * ms, Seq(0, 0)), (1800 * ms, Seq(1)), (2600 * ms, Seq(1, 2, -1)))
    val v = Stats.visibility(3, commits.iterator.map { case (t, f) => (t, f.iterator) })
    check("visibility is the last commit covering each file")(
      v.visibleAt.toSeq == Seq(500 * ms, 2600 * ms, 2600 * ms) && v.seen.toSeq == Seq(2, 2, 1))
    check("latency runs from when a file landed")(
      Stats.latenciesMs(landed, sizes, v).toSeq == Seq(500.0, 1600.0, 600.0))
    val partial = Stats.visibility(3, commits.take(2).iterator.map { case (t, f) => (t, f.iterator) })
    check("a file not fully visible has no latency sample")(
      Stats.latenciesMs(landed, sizes, partial).toSeq == Seq(500.0))
    check("quantiles interpolate between order statistics")(
      Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5 &&
        math.abs(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.9) - 3.7) < 1e-12)
    check("throughput counts from the first landing to the last commit")(
      Stats.eventsPerSec(5, 1000 * ms, 3500 * ms) == 2.0)
  }

  def produceOracle(): Unit = {
    val in = Gen.snapshot(3, 3, 40, 0, 0)
    val events = in.files.flatMap(_.events).toSeq
    val good = events.map { e =>
      val k = Oracle.key(e.id)
      Oracle.Produced(k, Oracle.Topic, Oracle.partition(k), Oracle.valueHash(Oracle.envelope(e)))
    }
    def run(ps: Seq[Oracle.Produced]) = Oracle.checkProduced(events.iterator, ps.iterator)
    check("produce oracle: the exact records pass")(run(good).failed == 0)
    check("produce oracle: a planted duplicate is flagged")({
      val c = run(good :+ good(5)); c.duplicated == 1 && c.failed == 1
    })
    check("produce oracle: a dropped record is flagged")({
      val c = run(good.patch(7, Nil, 1)); c.missing == 1 && c.failed == 1
    })
    check("produce oracle: a mutated value is flagged")({
      val c = run(good.updated(9, good(9).copy(valueHash = good(9).valueHash ^ 1L)))
      c.mismatched == 1 && c.failed == 1
    })
    check("produce oracle: a wrong partition or topic is flagged")({
      val p = good(11)
      run(good.updated(11, p.copy(partition = (p.partition + 1) % Oracle.Partitions)))
        .mismatched == 1 && run(good.updated(11, p.copy(topic = "other"))).mismatched == 1
    })
    check("produce oracle: a record of no event is flagged")(
      run(good :+ good(0).copy(key = "test_db.events.999999")).unexpected == 1)
    // the value contract, written out for one create, update and delete
    val e = Gen.Ev(12, (Gen.BaseSec + 1) * 1000000L + 5, 7, "purchase", 1050, """{"k": 42}""")
    check("produce oracle: a create truncates the after-image only")(Oracle.envelope(e) ==
      """{"before":null,"after":{"event_id":"12","ts":"2024-01-01 00:00:01","user_id":"7",""" +
      """"event_type":"purcha","value":"10.50","props":"{\"k\": 42"},"source":""" +
      """{"version":"1.6.4.Final","connector":"mysql","name":"mysql_binlog_source",""" +
      """"ts_ms":1704067201000,"snapshot":"false","db":"test_db","sequence":null,""" +
      """"table":"events","server_id":57330068,"gtid":null,""" +
      """"file":"mysql-bin-changelog.000001","pos":12,"row":0,"thread":null,""" +
      """"query":null},"op":"c","ts_ms":1704067201000}""")
    check("produce oracle: an update keeps its before-image whole")({
      val v = Oracle.envelope(e.copy(id = 11))
      v.startsWith("""{"before":{"event_id":"11","ts":"2024-01-01 00:00:01","user_id":"7",""" +
        """"event_type":"purchase","value":"10.50","props":"{\"k\": 42}"},"after":""") &&
        v.contains(""""event_type":"purcha"""") && v.contains(""""op":"u"""")
    })
    check("produce oracle: a delete truncates the before-image and has no after")({
      val v = Oracle.envelope(e.copy(id = 10))
      v.contains(""""event_type":"purcha"""") && v.contains(""""after":null""") &&
        v.contains(""""op":"d"""")
    })
    check("produce oracle: the partition is abs(key.hashCode % 12)")(
      Oracle.partition("test_db.events.12") == math.abs("test_db.events.12".hashCode % 12))
  }

  def replicaOracle(): Unit = {
    val in = Gen.replica(5, 300, 2, 400, 1.1, 0)
    val changes = in.files.flatMap(_.events).toSeq
    val expected = Oracle.expectedReplica(in.preload.iterator, changes.iterator)
    val rows = expected.values.toSeq
    def run(rs: Seq[Oracle.Row]) = Oracle.checkReplica(changes.length, expected, rs.iterator)
    check("replica oracle: deleted keys are absent, others hold their last change")({
      val last = changes.groupBy(_.id).view.mapValues(_.maxBy(Oracle.tsMs)).toMap
      last.forall { case (id, e) =>
        val r = expected.get(Oracle.key(id))
        if (Oracle.op(id) == "d") r.isEmpty else r.exists(_.after == Oracle.image(e))
      } && in.preload.filterNot(p => last.contains(p.id))
        .forall(p => expected.get(Oracle.key(p.id)).exists(_.tsMs == Gen.BaseSec * 1000))
    })
    check("replica oracle: the exact rows pass")(run(rows).failed == 0)
    check("replica oracle: a missing key is flagged")(run(rows.tail).missing == 1)
    check("replica oracle: a duplicated key is flagged")(run(rows :+ rows.head).duplicated == 1)
    check("replica oracle: a stale version is flagged")({
      val r = rows.head
      run(rows.updated(0, r.copy(tsMs = r.tsMs - 1000))).mismatched == 1
    })
    check("replica oracle: a resurrected deleted key is flagged")({
      val dead = changes.find(e => Oracle.op(e.id) == "d").get
      run(rows :+ Oracle.Row(Oracle.key(dead.id), Oracle.image(dead), Oracle.tsMs(dead), dead.id))
        .unexpected == 1
    })
  }

  def main(args: Array[String]): Unit = {
    val root = Files.createTempDirectory("cdcbench-selftest")
    try {
      determinism(root)
      latency()
      produceOracle()
      replicaOracle()
    } finally {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala
        .foreach(Files.delete)
    }
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    if (failures > 0) sys.exit(1)
  }
}
