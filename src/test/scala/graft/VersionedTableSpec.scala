package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.DeltaLog
import graft.table.VersionedTable

class VersionedTableSpec extends SparkTestBase {

  private def freshRoot(tag: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_vtspec_$tag"
    val f = new java.io.File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    p
  }

  private def docs = Tables(spark, sfDir, "documents")
    .select(col("doc_id"), col("text"), col("lang"))

  private def snap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** The (adds, removes) of table version `v`'s Delta commit (table
    * version v is Delta version v - 1), each as (bucket, relative path).
    */
  private def commitActions(root: String, v: Long)
      : (Seq[(Int, String)], Seq[(Int, String)]) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val nodes = Files.readAllLines(Paths.get(root, "_delta_log", f"${v - 1}%020d.json"))
      .asScala.toSeq.filter(_.nonEmpty).map(l => mapper.readTree(l))
    def of(kind: String) = nodes.filter(_.has(kind)).map { n =>
      val p = n.get(kind).get("path").asText()
      (p.split("/b=")(1).takeWhile(_ != '/').toInt, p)
    }
    (of("add"), of("remove"))
  }

  test("init + merge chain: every pinned version reconstructs its exact snapshot") {
    val t = new VersionedTable(spark, freshRoot("chain"), "doc_id")
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val v1 = t.init(base)
    assert(v1 == 1L && t.currentVersion() == 1L)
    val s1 = snap(base)

    // v2: delete %7, upsert " v2" where %4
    val b1 = docs.filter(pmod(col("doc_id"), lit(4)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, "delete").otherwise("upsert").as("op"),
        concat(col("text"), lit(" v2")).as("text"), col("lang"))
    val v2 = t.merge(b1, v1)
    assert(v2 == 2L)
    val s2expect = (s1 -- s1.keys.filter(_ % 7 == 0)) ++
      docs.filter(pmod(col("doc_id"), lit(4)) === 0 && pmod(col("doc_id"), lit(7)) =!= 0)
        .collect().map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("text") + " v2"))
    assert(snap(t.read(2L)) == s2expect, "v2 snapshot = base − deletes + upserts")

    // v3: upsert " v3" where %5 (no deletes)
    val b2 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), lit("upsert").as("op"),
        concat(col("text"), lit(" v3")).as("text"), col("lang"))
    val v3 = t.merge(b2, v2)
    val s3expect = s2expect ++
      docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .collect().map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("text") + " v3"))
    assert(snap(t.read(3L)) == s3expect)

    // TIME TRAVEL: committing v3 must not disturb any pinned older read
    assert(snap(t.read(1L)) == s1, "v1 is immutable after later commits")
    assert(snap(t.read(2L)) == s2expect, "v2 is immutable after later commits")
    assert(snap(t.readLatest()) == s3expect)
    assert(t.currentVersion() == 3L)
  }

  test("copy-on-write prunes: a single-bucket batch rewrites one bucket, carries the rest") {
    val root = freshRoot("cow")
    val nB = 16
    val t = new VersionedTable(spark, root, "doc_id", nBuckets = nB)
    t.init(docs)
    // one key → exactly one touched bucket
    val oneKey = docs.orderBy(col("doc_id")).limit(1)
      .select(col("doc_id"), lit("upsert").as("op"),
        lit("rewritten").as("text"), col("lang"))
    t.merge(oneKey, 1L)
    val (adds, removes) = commitActions(root, 2L)
    assert(adds.size == 1 && removes.size == 1,
      s"one touched bucket ⇒ 1 add + 1 remove, got $adds / $removes")
    // v1's untouched files still back the v2 snapshot (carried by reference,
    // zero bytes moved): all but one of v2's live files are v1's
    val live2 = t.read(2L)
    assert(live2.filter(col("text") === "rewritten").count() == 1L)
    assert(live2.count() == docs.count())
  }

  test("two-writer race: the loser's publish is rejected, the winner's commit stands") {
    val t = new VersionedTable(spark, freshRoot("race"), "doc_id")
    t.init(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
    def mkBatch(tag: String) = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
      .select(col("doc_id"), lit("upsert").as("op"),
        concat(col("text"), lit(tag)).as("text"), col("lang"))
    // both writers read version 1 and merge concurrently; writer A publishes
    val vA = t.merge(mkBatch(" by-A"), 1L)
    assert(vA == 2L)
    // writer B, still holding version 1, must be REJECTED at publication —
    // not silently clobber A's commit
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.merge(mkBatch(" by-B"), 1L)
    }
    assert(ex.getMessage.contains("concurrent writer"))
    // A's commit is intact; B's orphaned data is invisible to every reader
    assert(t.currentVersion() == 2L)
    val texts = t.read(2L).filter(pmod(col("doc_id"), lit(4)) === 0)
      .select(col("text")).collect().map(_.getString(0))
    assert(texts.nonEmpty && texts.forall(_.endsWith(" by-A")))
    // and B can retry on the fresh version, the optimistic-concurrency loop
    val vB = t.merge(mkBatch(" by-B"), 2L)
    assert(vB == 3L)
    assert(t.read(3L).filter(col("text").endsWith(" by-B")).count() > 0)
    assert(t.read(2L).filter(col("text").endsWith(" by-B")).count() == 0,
      "retry lands in v3; pinned v2 still shows A only")
  }

  test("changes(vA, vB) emits the exact typed diff between the two snapshots") {
    val t = new VersionedTable(spark, freshRoot("cdc"), "doc_id")
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    t.init(base)
    val b1 = docs.filter(pmod(col("doc_id"), lit(4)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, "delete").otherwise("upsert").as("op"),
        concat(col("text"), lit(" v2")).as("text"), col("lang"))
    t.merge(b1, 1L)
    val b2 = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id"), lit("upsert").as("op"),
        concat(col("text"), lit(" v3")).as("text"), col("lang"))
    t.merge(b2, 2L)

    // reference diff from the materialized snapshots
    val s1 = snap(t.read(1L))
    val s3 = snap(t.read(3L))
    val expect = (s1.keySet ++ s3.keySet).toSeq.flatMap { k =>
      (s1.get(k), s3.get(k)) match {
        case (None, Some(tx)) => Some((k, "insert", tx))
        case (Some(tx), None) => Some((k, "delete", tx))
        case (Some(a), Some(b)) if a != b => Some((k, "update", b))
        case _ => None
      }
    }.sortBy(_._1)
    val got = t.changes(1L, 3L)
      .select(col("doc_id"), col("change_type"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == expect, "bucket-pruned diff equals the full snapshot diff")
    assert(expect.exists(_._2 == "insert") && expect.exists(_._2 == "delete")
      && expect.exists(_._2 == "update"), "fixture exercises all three types")
    // pre-image contract: deletes/updates carry old_*, inserts carry NULL
    val pre = t.changes(1L, 3L)
      .select(col("change_type"), col("old_text"), col("text")).collect()
    assert(pre.filter(_.getString(0) != "insert").forall(!_.isNullAt(1)),
      "retractable changes must carry the pre-image")
    assert(pre.filter(_.getString(0) == "insert").forall(_.isNullAt(1)))
    assert(pre.filter(_.getString(0) == "update")
      .forall(r => r.getString(1) != r.getString(2)),
      "an update's pre-image differs from its post-image")
    // vA = 0: everything live at vB is an insert
    val sinceEver = t.changes(0L, 3L)
    assert(sinceEver.filter(col("change_type") =!= "insert").count() == 0L)
    assert(sinceEver.count() == s3.size)
  }

  test("checkpoint is a replay shortcut: reads before and after it agree") {
    val t = new VersionedTable(spark, freshRoot("ckpt"), "doc_id")
    t.init(docs.limit(200))
    (1 to 6).foreach { i =>
      val b = docs.limit(200).filter(pmod(col("doc_id"), lit(5)) === (i % 5))
        .select(col("doc_id"), lit("upsert").as("op"),
          concat(col("text"), lit(s" u$i")).as("text"), col("lang"))
      t.merge(b, i.toLong)
    }
    val before = (1L to 7L).map(v => v -> snap(t.read(v))).toMap
    val cv = t.checkpoint()
    assert(cv == 7L)
    // post-checkpoint commit replays from the checkpoint, not version 1
    val b = docs.limit(200).filter(pmod(col("doc_id"), lit(5)) === 2)
      .select(col("doc_id"), lit("upsert").as("op"),
        concat(col("text"), lit(" u7")).as("text"), col("lang"))
    t.merge(b, 7L)
    // every pinned pre-checkpoint read is unchanged (checkpoint is not a
    // history truncation), and the post-checkpoint snapshot is correct
    (1L to 7L).foreach(v => assert(snap(t.read(v)) == before(v), s"v$v"))
    val s8 = snap(t.read(8L))
    assert(s8.exists(_._2.endsWith(" u7")))
    assert(s8.size == before(7L).size)
  }

  test("compact merges fragmented buckets content-identically; bucket-pruned, idempotent, time-travel-safe") {
    val rootP = freshRoot("compact")
    val t = new VersionedTable(spark, rootP, "doc_id")
    // init owns buckets 8-15 (one live dir each — the prune witnesses);
    // the three appends carve DISJOINT id ranges of buckets 0-7, so those
    // end at three live dirs each
    t.init(docs.filter(pmod(col("doc_id"), lit(16)) >= 8))
    (1 to 3).foreach { k =>
      t.appendBatch(
        docs.filter(pmod(col("doc_id"), lit(16)) < 8 &&
          col("doc_id") >= (k - 1) * 100 && col("doc_id") < k * 100),
        k.toLong)
    }
    val v4 = t.currentVersion()
    val before = snap(t.read(v4))
    assert(t.bucketFileCounts(v4).values.max > 1, "fixture must be fragmented")
    val v5 = t.compact(v4)
    assert(v5 == v4 + 1)
    assert(t.bucketFileCounts(v5).values.max == 1, "every bucket one live dir after")
    assert(snap(t.read(v5)) == before, "compaction must move bytes and nothing else")
    assert(snap(t.read(v4)) == before, "pre-compaction time travel must survive")
    assert(t.compact(v5) == v5, "idempotent: nothing fragmented, no new commit")
    // BUCKET-PRUNED: the compaction commit may only touch the fragmented
    // buckets — no remove (or add) action for the single-file buckets 8-15
    val (adds, removes) = commitActions(rootP, v5)
    assert(adds.nonEmpty && removes.nonEmpty)
    (adds ++ removes).foreach { case (b, p) =>
      assert(b < 8, s"untouched bucket $b must carry over by reference: $p")
    }
  }

  test("rebucket changes layout, not content, and future merges use the new count") {
    val root = freshRoot("rebucket")
    val t = new VersionedTable(spark, root, "doc_id", nBuckets = 16)
    t.init(docs)
    val s1 = snap(t.read(1L))
    val v2 = t.rebucket(4, 1L)
    assert(v2 == 2L)
    assert(snap(t.read(2L)) == s1, "rebucket preserves logical content")
    assert(snap(t.read(1L)) == s1, "pinned pre-rebucket read still works")
    // the new layout has at most 4 bucket files live
    val (adds2, _) = commitActions(root, 2L)
    assert(adds2.length <= 4 && adds2.nonEmpty)
    // a one-key merge after rebucket rewrites ONE of the new buckets
    val oneKey = docs.orderBy(col("doc_id")).limit(1)
      .select(col("doc_id"), lit("upsert").as("op"),
        lit("rewritten").as("text"), col("lang"))
    t.merge(oneKey, 2L)
    val (a3, r3) = commitActions(root, 3L)
    val (adds3, removes3) = (a3.size, r3.size)
    assert(adds3 == 1 && removes3 == 1,
      s"merge after rebucket touches one 4-way bucket, got $adds3/$removes3")
    assert(t.read(3L).filter(col("text") === "rewritten").count() == 1L)
  }

  test("appendBatch is idempotent on micro-batch replay (exactly-once sink)") {
    val root = freshRoot("append")
    val t = new VersionedTable(spark, root, "doc_id")
    val part = (i: Int) => docs.filter(pmod(col("doc_id"), lit(3)) === i % 3).limit(50)
    val v1 = t.appendBatch(part(0), batchId = 0L)
    assert(v1 == 1L &&
      DeltaLog.txnVersion(spark, root, VersionedTable.BatchAppId).contains(0L))
    val n1 = t.readLatest().count()
    val v2 = t.appendBatch(part(1), batchId = 1L)
    assert(v2 == 2L)
    val n2 = t.readLatest().count()
    assert(n2 > n1)
    // failure replay: foreachBatch re-delivers batch 1 with the same id —
    // the committed txn action makes the re-append a no-op
    val vReplay = t.appendBatch(part(1), batchId = 1L)
    assert(vReplay == 2L, "replayed batch must not commit a new version")
    assert(t.currentVersion() == 2L)
    assert(t.readLatest().count() == n2, "no duplicate rows from the replay")
    // and the next genuine batch proceeds
    assert(t.appendBatch(part(2), batchId = 2L) == 3L)
  }

  test("mergeBatch: replayed batch is a no-op; out-of-order keyed updates converge") {
    val root = freshRoot("mergebatch")
    val t = new VersionedTable(spark, root, "doc_id")
    t.init(docs.limit(60))
    def ch(rows: Seq[(Long, String, String, String)]) =
      spark.createDataFrame(rows).toDF("doc_id", "op", "text", "lang")
    // batch 0: upserts for keys in one order
    val v1 = t.mergeBatch(ch(Seq((1L, "upsert", "one-v1", "en"),
      (2L, "upsert", "two-v1", "en"))), batchId = 0L)
    assert(v1 == 2L &&
      DeltaLog.txnVersion(spark, root, VersionedTable.BatchAppId).contains(0L))
    val s1 = snap(t.readLatest())
    // failure replay: same batch id re-delivered — detected no-op, same
    // version, same content
    assert(t.mergeBatch(ch(Seq((1L, "upsert", "one-v1", "en"),
      (2L, "upsert", "two-v1", "en"))), batchId = 0L) == 2L)
    assert(t.currentVersion() == 2L && snap(t.readLatest()) == s1,
      "replayed merge must not change state")
    // batch 1 touches the same keys in the opposite order plus a delete:
    // later batch wins per key regardless of row order within the batch
    val v2 = t.mergeBatch(ch(Seq((2L, "upsert", "two-v2", "en"),
      (1L, "delete", "one-v1", "en"))), batchId = 1L)
    assert(v2 == 3L)
    val s2 = snap(t.readLatest())
    assert(!s2.contains(1L), "deleted key must be gone")
    assert(s2(2L) == "two-v2", "later batch's upsert must win")
    // replay of the OLDER batch after a newer one committed: still a no-op
    assert(t.mergeBatch(ch(Seq((1L, "upsert", "one-v1", "en"))), batchId = 0L) == 3L)
    assert(snap(t.readLatest()) == s2, "stale replay must not resurrect state")
  }

  test("vacuum reclaims race orphans and pre-horizon files; horizon reads survive") {
    val root = freshRoot("vacuum")
    val t = new VersionedTable(spark, root, "doc_id")
    t.init(docs.limit(100))
    def mkBatch(tag: String) = docs.limit(100)
      .filter(pmod(col("doc_id"), lit(4)) === 0)
      .select(col("doc_id"), lit("upsert").as("op"),
        concat(col("text"), lit(tag)).as("text"), col("lang"))
    t.merge(mkBatch(" a"), 1L)
    // a losing writer leaves an ORPHAN data dir behind
    intercept[java.util.ConcurrentModificationException] {
      t.merge(mkBatch(" loser"), 1L)
    }
    t.merge(mkBatch(" b"), 2L)
    // data directories: one per commit attempt, beside _delta_log
    val dataDirs = (f: String) => Option(new java.io.File(f).listFiles())
      .getOrElse(Array.empty).count(d => d.isDirectory && d.getName != "_delta_log")
    val before = dataDirs(root)
    val s2 = snap(t.read(2L))
    val s3 = snap(t.read(3L))
    val deleted = t.vacuum(retainFrom = 2L)
    assert(deleted > 0, "the orphan (and v1-only files) must be reclaimed")
    assert(dataDirs(root) < before, "at least the loser's commit dir is gone")
    // horizon reads intact after GC
    assert(snap(t.read(2L)) == s2)
    assert(snap(t.read(3L)) == s3)
    assert(snap(t.readLatest()) == s3)
  }

  test("merges reject schema-drifting batches") {
    val t = new VersionedTable(spark, freshRoot("schema"), "doc_id")
    t.init(docs.limit(50))
    val b = docs.limit(50).filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), lit("upsert").as("op"),
        concat(col("text"), lit(" v2")).as("text"), col("lang"))
    t.merge(b, 1L)
    t.merge(b, 2L)
    // schema enforcement: a drifting batch fails loudly at the merge
    val drifting = docs.limit(10)
      .select(col("doc_id"), lit("upsert").as("op"),
        col("text"), col("lang"), lit(1).as("extra_col"))
    val ex = intercept[IllegalArgumentException] { t.merge(drifting, 3L) }
    assert(ex.getMessage.contains("do not match table columns"))
    val missing = docs.limit(10)
      .select(col("doc_id"), lit("upsert").as("op"), col("text"))
    intercept[IllegalArgumentException] { t.merge(missing, 3L) }
    // the table is untouched by the rejected merges
    assert(t.currentVersion() == 3L)
  }

  test("a versioned table is a Delta table: DeltaLog reads every version " +
      "of the q192 chain; the txn cursor is the last appended batch") {
    val root = freshRoot("interop")
    val t = new VersionedTable(spark, root, "doc_id")
    def batch(delMod: Int, upMod: Int, suffix: String) = docs
      .filter(pmod(col("doc_id"), lit(upMod)) === 0 ||
        pmod(col("doc_id"), lit(delMod)) === 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(delMod)) === 0, "delete")
          .otherwise("upsert").as("op"),
        concat(col("text"), lit(suffix)).as("text"), col("lang"))
    val v1 = t.init(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
    val v2 = t.merge(batch(7, 4, " v2"), v1)
    val v3 = t.merge(batch(9, 5, " v3"), v2)
    val v4 = t.merge(docs.filter(pmod(col("doc_id"), lit(6)) === 0)
      .select(col("doc_id"), lit("upsert").as("op"),
        concat(col("text"), lit(" v4")).as("text"), col("lang")), v3)
    val fresh = (off: Long) => docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select((col("doc_id") + lit(off)).as("doc_id"), col("text"), col("lang"))
    t.appendBatch(fresh(1000000L), batchId = 4L)
    val v6 = t.appendBatch(fresh(2000000L), batchId = 5L)
    assert(v4 == 4L && v6 == 6L && t.currentVersion() == 6L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("text"), col("lang")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    (1L to v6).foreach { v =>
      val viaDelta = DeltaLog.read(spark, root, Some(v - 1))
      assert(viaDelta.columns.contains("b"), "the key bucket is the partition column")
      assert(rows(viaDelta.drop("b")) == rows(t.read(v)), s"version $v")
    }
    assert(DeltaLog.txnVersion(spark, root, VersionedTable.BatchAppId).contains(5L))
  }

  test("delete wins over upsert for the same key within one batch") {
    val t = new VersionedTable(spark, freshRoot("delwin"), "doc_id")
    t.init(docs.limit(20))
    val ids = docs.orderBy(col("doc_id")).limit(2).collect().map(_.getLong(0))
    val s0 = spark
    import s0.implicits._
    val batch = Seq(
      (ids(0), "upsert", "should not survive", "en"),
      (ids(0), "delete", "x", "en"),
      (ids(1), "upsert", "survives", "en"))
      .toDF("doc_id", "op", "text", "lang")
    t.merge(batch, 1L)
    val s = snap(t.read(2L))
    assert(!s.contains(ids(0)), "delete wins on overlap")
    assert(s(ids(1)) == "survives")
  }

  test("CDC mirror interop: bootstrap + feed apply equals the native snapshot; idempotent; pin-invariant") {
    val t = new VersionedTable(spark, freshRoot("mirror"), "doc_id")
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val v1 = t.init(base)
    def batch(delMod: Int, upMod: Int, suffix: String) = docs
      .filter(pmod(col("doc_id"), lit(upMod)) === 0 ||
        pmod(col("doc_id"), lit(delMod)) === 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(delMod)) === 0, "delete")
          .otherwise("upsert").as("op"),
        concat(col("text"), lit(suffix)).as("text"), col("lang"))
    val v2 = t.merge(batch(7, 4, " v2"), v1)
    val v3 = t.merge(batch(9, 5, " v3"), v2)

    // the q236 apply: anti-join out every changed key, union in the
    // non-delete payloads — the generic MERGE an external engine runs
    def applyFeed(mirror: org.apache.spark.sql.DataFrame, vA: Long, vB: Long) = {
      val feed = t.changes(vA, vB)
        .select(col("doc_id"), col("change_type"), col("text"), col("lang"))
      mirror.join(feed.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(feed.filter(col("change_type") =!= "delete")
          .select(col("doc_id"), col("text"), col("lang")))
    }
    val native = snap(t.read(v3))

    // bootstrap at v1, sync (1, 3]
    val fromV1 = applyFeed(t.read(1L).select(col("doc_id"), col("text"), col("lang")), 1L, v3)
    assert(snap(fromV1) == native, "v1 bootstrap + full feed must equal the snapshot")

    // IDEMPOTENT: re-applying the same feed to the synced mirror is a no-op
    // (every feed key overwrites to its own payload or stays deleted)
    assert(snap(applyFeed(fromV1, 1L, v3)) == native, "re-applied feed must be a no-op")

    // PIN-INVARIANT: a later bootstrap with the shorter feed lands on the
    // same table — migration can start from any pinned snapshot
    val fromV2 = applyFeed(t.read(2L).select(col("doc_id"), col("text"), col("lang")), 2L, v3)
    assert(snap(fromV2) == native, "v2 bootstrap + tail feed must equal the snapshot")
  }

  test("q214 erasure: survivors zero, pre-erasure snapshot unreadable, counts close, reruns identical") {
    val r1 = graft.queries.IngestOps.q214Erasure(spark, sfDir).collect()
    assert(r1.length === 1)
    val r = r1.head
    assert(r.getAs[Long]("n_requests") > 0L, "the fixture must contain erasure requests")
    assert(r.getAs[Long]("survivors_after") === 0L,
      "no requested subject may survive in the post-erasure snapshot")
    assert(r.getAs[Long]("n_after") === r.getAs[Long]("n_before") - r.getAs[Long]("n_requests"))
    assert(!r.getAs[Boolean]("v1_readable_after_vacuum"),
      "vacuum past the erasure commit must make the pre-erasure snapshot unreconstructable")
    // idempotent across calls in one JVM (memoized fixture, read-only audit)
    val r2 = graft.queries.IngestOps.q214Erasure(spark, sfDir).collect()
    assert(r2.map(_.toSeq).toSeq === r1.map(_.toSeq).toSeq)
  }
}
