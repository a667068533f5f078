package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The shared sidecar protocol: atomic publish leaves nothing behind,
  * a write-once publish keeps its first writer, both commit-ledger forms
  * keep their exact bytes, corrupt integer markers and markers edited
  * outside the protocol fail naming the file, and the pin GC reaps
  * crashed readers.
  */
class LedgerSpec extends SparkSpec {

  private def tmpRoot(tag: String) = Files.createTempDirectory(s"graft_ledger_$tag").toString

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  test("write publishes the body and leaves no tmp file; an absent file reads None") {
    val root = tmpRoot("write_")
    val f = new Path(root, "_graft_x")
    assert(Ledger.read(spark, f).isEmpty)
    Ledger.write(spark, f, "a\nb")
    Ledger.write(spark, f, "c\n")
    assert(Ledger.read(spark, f).contains("c"))
    val left = Option(new java.io.File(root).list()).getOrElse(Array.empty[String])
    assert(!left.exists(_.contains(".tmp")), s"tmp file left behind: ${left.mkString(", ")}")
  }

  test("both commit-ledger forms keep their exact bytes and read back") {
    val plain = tmpRoot("plain_")
    Ledger.commit(spark, plain, 7, writer = None)
    assert(new String(Files.readAllBytes(Paths.get(plain, "_graft_committed_batch")), UTF_8) == "7")
    assert(Ledger.committed(spark, plain).contains((7, None)))

    val tagged = tmpRoot("tagged_")
    Ledger.commit(spark, tagged, 7, Some("writer-x"))
    assert(new String(Files.readAllBytes(Paths.get(tagged, "_graft_committed_batch")), UTF_8) ==
      "7\nwriter-x")
    assert(Ledger.committed(spark, tagged).contains((7, Some("writer-x"))))

    assert(Ledger.committed(spark, tmpRoot("none_")).isEmpty)
  }

  test("a corrupt integer marker fails naming its file") {
    def corrupt(name: String, body: String): String = {
      val root = tmpRoot("corrupt_")
      Files.write(Paths.get(root, name), body.getBytes(UTF_8))
      root
    }
    val cases: Seq[(String, String => Any)] = Seq(
      "_graft_committed_batch" -> (r => Ledger.committed(spark, r)),
      "_graft_layout" -> (r => AggIndex.layoutVersion(spark, r)))
    for ((name, readIt) <- cases; body <- Seq("", "x7")) {
      val root = corrupt(name, body)
      val e = intercept[IllegalStateException](readIt(root))
      assert(e.getMessage.contains(new Path(root, name).toString),
        s"$name ('$body'): message does not name the file: ${e.getMessage}")
    }
  }

  test("a published marker edited outside Ledger fails naming the file") {
    val root = tmpRoot("crc_")
    val f = new Path(root, "_graft_layout")
    Ledger.write(spark, f, "2")
    // the publish left a checksum beside the marker; a raw overwrite
    // leaves it stale
    Files.write(Paths.get(root, "_graft_layout"), "3".getBytes(UTF_8))
    val e = intercept[IllegalStateException](Ledger.read(spark, f))
    assert(e.getMessage.contains(f.toString),
      s"message does not name the file: ${e.getMessage}")
  }

  private def tmpsIn(root: String): Seq[String] =
    Option(new java.io.File(root).list()).getOrElse(Array.empty[String])
      .toSeq.filter(_.contains(".tmp"))

  test("writeOnce: a second publish throws and leaves the first body intact") {
    val root = tmpRoot("once_")
    val f = new Path(root, "graft_base_batch")
    Ledger.writeOnce(spark, f, "3")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      Ledger.writeOnce(spark, f, "5")
    }
    assert(new String(Files.readAllBytes(Paths.get(root, "graft_base_batch")), UTF_8) == "3")
  }

  test("writeOnce leaves no tmp file behind, after a win or a loss") {
    val root = tmpRoot("once_tmp_")
    val f = new Path(root, "graft_base_batch")
    Ledger.writeOnce(spark, f, "3")
    assert(tmpsIn(root).isEmpty, s"tmp file left behind: ${tmpsIn(root).mkString(", ")}")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      Ledger.writeOnce(spark, f, "5")
    }
    assert(tmpsIn(root).isEmpty, s"tmp file left behind: ${tmpsIn(root).mkString(", ")}")
  }

  test("a tmp stranded by a dead writeOnce does not block a later publish") {
    val root = tmpRoot("once_dead_")
    Files.write(Paths.get(root, ".graft_base_batch-dead.tmp"), "9".getBytes(UTF_8))
    val f = new Path(root, "graft_base_batch")
    Ledger.writeOnce(spark, f, "4")
    assert(Ledger.readInt(spark, f).contains(4))
    assert(tmpsIn(root).isEmpty, s"stranded tmp not reaped: ${tmpsIn(root).mkString(", ")}")
    assert(IndexStream.pinnedBase(spark.emptyDataFrame, 7, root) == 4,
      "a pinned base must keep the first writer's value")
  }

  // one case per integer-bearing marker: a non-integer body fails with an
  // IllegalStateException naming the file, not a bare NumberFormatException
  private val intMarkers: Seq[(String, String, String => Any)] = Seq(
    ("_graft_max_batch", "x7", r => IndexMaintenance.readMaxBatchMarker(spark, r)),
    ("_graft_tau", "x7", r => RadiusMarker.stored(spark, r, 1)),
    ("_graft_asof_floor", "x7\nforget", r => AsofFloor.read(spark, r)),
    ("_graft_buckets", s"x7\nhash=${KeyBuckets.HashVersion}", r => KeyBuckets.validate(spark, r)),
    ("graft_base_batch", "x7", r => IndexStream.pinnedBase(spark.emptyDataFrame, 0, r)),
    ("graft_applied_batchid", "x7", r => IndexStream.readApplied(spark, r)),
    ("_graft_view_day_col", "ts\npdb=x7\nhash=v1-daystr\ntz=UTC",
      r => JoinView.viewDayCol(spark, r)))

  for ((name, body, readIt) <- intMarkers)
    test(s"a non-integer $name fails naming its file") {
      val root = tmpRoot("int_")
      Files.write(Paths.get(root, name), body.getBytes(UTF_8))
      val e = intercept[IllegalStateException](readIt(root))
      assert(e.getMessage.contains(new Path(root, name).toString),
        s"$name: message does not name the file: ${e.getMessage}")
    }

  test("livePins reaps expired pins and stranded tmps, ignores a zero-byte pin") {
    val root = tmpRoot("pins_")
    val dir = new Path(root, "_reader_pins")
    val f = fs(root)
    def put(name: String, body: String, ageMs: Long): Path = {
      val p = new Path(dir, name)
      val out = f.create(p, true)
      try out.write(body.getBytes(UTF_8)) finally out.close()
      if (ageMs > 0) f.setTimes(p, System.currentTimeMillis() - ageMs, -1)
      p
    }
    val ttl = 60000L
    val live = put("pin-live", "4", 0)
    val torn = put("pin-torn", "", 0)
    val expired = put("pin-expired", "1", ttl + 60000L)
    val freshTmp = put(".pin-fresh.tmp", "2", 0)
    val staleTmp = put(".pin-stale.tmp", "3", ttl + 60000L)
    assert(Ledger.livePins(spark, root, ttl) == Seq(4))
    assert(f.exists(live) && f.exists(torn) && f.exists(freshTmp))
    assert(!f.exists(expired), "an expired pin must be deleted")
    assert(!f.exists(staleTmp), "a stranded tmp older than the TTL must be deleted")
    assert(Ledger.livePins(spark, tmpRoot("nopins_"), ttl).isEmpty)
  }

  test("withPin re-resolves after pinning and releases the pin") {
    val root = tmpRoot("withpin_")
    // the value moves once between the first resolve and the re-read
    val answers = Iterator(1, 2, 2)
    val seen = Ledger.withPin(spark, root)(() => answers.next()) { v =>
      assert(Ledger.livePins(spark, root, 60000L) == Seq(v))
      v
    }
    assert(seen == 2)
    assert(Ledger.livePins(spark, root, 60000L).isEmpty, "the pin outlived its bracket")
  }
}
