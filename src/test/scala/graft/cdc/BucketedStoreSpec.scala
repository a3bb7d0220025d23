package graft.cdc

import java.nio.file.{Files, Paths => JPaths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.model.{BsonTs, TaskSpec}

/** The incremental bucketed state store: per-micro-batch cost must track
  * the BATCH (dirty buckets only), never the full state — and the result
  * must be indistinguishable from the legacy full-rewrite path. */
class BucketedStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val task = TaskSpec(Vector("value" -> "value"))
  val spec = BucketedStateStore.Spec(nBuckets = 8, compactThreshold = 3, retainManifests = 2)

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def ev(sec: Int, ord: Int, op: String, id: String, doc: String) =
    OplogRow(BsonTs(sec, ord).toLong, op, "db.c", id, doc)

  /** Three micro-batches covering insert/update/delete/re-insert and a
    * $set against a never-seen key (source fallback). */
  private val batches: Seq[Seq[OplogRow]] = Seq(
    Seq(
      ev(1, 0, "i", "a", """{"_id":"a","value":1.0}"""),
      ev(1, 1, "i", "b", """{"_id":"b","value":2.0}"""),
      ev(1, 2, "i", "c", """{"_id":"c","value":3.0}""")),
    Seq(
      ev(2, 0, "u", "a", """{"$set":{"value":11.0}}"""),
      ev(2, 1, "d", "b", """{"_id":"b"}"""),
      ev(2, 2, "u", "z", """{"$set":{"value":99.0}}""")), // z: source fallback
    Seq(
      ev(3, 0, "i", "b", """{"_id":"b","value":22.0}"""),
      ev(3, 1, "d", "c", """{"_id":"c"}"""),
      ev(3, 2, "u", "a", """{"$set":{"value":12.0}}""")),
  )

  private val source = Seq(
    ("z", """{"_id":"z","value":50.0}"""),
    ("y", """{"_id":"y","value":60.0}""")).toDF("id", "doc")

  private def readMap(dir: String): Map[String, (String, Long)] =
    StateStore.read(spark, dir).collect()
      .map(r => r.getAs[String]("id") -> (r.getAs[String]("doc"), r.getAs[Long]("ts"))).toMap

  test("time travel: readAt reproduces each retained commit exactly, on both backends") {
    val bdir = tmp("bucketed-tt")
    val ldir = tmp("legacy-tt")
    // wide retention so every commit in the window stays readable (the
    // tight default's history bounding is pinned by the vacuum test)
    val ttSpec = spec.copy(retainManifests = 10)
    // snapshot the expected state AFTER each commit as we go
    var bucketedWant = Vector.empty[(Long, Map[String, (String, Long)])]
    var legacyWant = Vector.empty[(Int, Map[String, (String, Long)])]
    batches.foreach { b =>
      val ds = spark.createDataset(b)
      val seq = BucketedStateStore.applyBatch(ds, task, bdir, ttSpec, Some(source)).get
      bucketedWant :+= (seq, readMap(bdir))
      val v = StateStore.write(
        BatchApplier.applyOplogBatch(ds, StateStore.read(spark, ldir), task, Some(source)), ldir)
      legacyWant :+= (v, StateStore.read(spark, ldir).collect()
        .map(r => r.getAs[String]("id") -> (r.getAs[String]("doc"), r.getAs[Long]("ts"))).toMap)
    }
    // every commit STILL RETAINED reads back AS OF exactly; older ones
    // may be None (retention/compaction policy — pinned elsewhere), and
    // the newest commit must always be readable
    def check(name: String,
        reader: Long => Option[org.apache.spark.sql.DataFrame],
        want: Vector[(Long, Map[String, (String, Long)])]): Unit = {
      var readable = 0
      want.foreach { case (seq, w) =>
        reader(seq).foreach { df =>
          readable += 1
          val got = df.collect()
            .map(r => r.getAs[String]("id") -> (r.getAs[String]("doc"), r.getAs[Long]("ts"))).toMap
          assert(got === w, s"$name AS OF $seq")
        }
      }
      assert(reader(want.last._1).isDefined, s"$name: newest commit must be readable")
      assert(readable === want.size,
        s"$name: with wide retention every commit must stay readable ($readable/${want.size})")
    }
    check("bucketed", s => BucketedStateStore.readAt(spark, bdir, s), bucketedWant)
    check("legacy", v => StateStore.readAt(spark, ldir, v.toInt),
      legacyWant.map { case (v, m) => (v.toLong, m) })
    // a never-written future version is None, not an error
    assert(StateStore.readAt(spark, ldir, 999).isEmpty)
    assert(BucketedStateStore.readAt(spark, bdir, 999L).isEmpty)
  }

  test("multi-batch apply matches the legacy full-rewrite path exactly") {
    val bdir = tmp("bucketed-eq")
    val ldir = tmp("legacy-eq")
    batches.foreach { b =>
      val ds = spark.createDataset(b)
      BucketedStateStore.applyBatch(ds, task, bdir, spec, Some(source))
      val st = StateStore.read(spark, ldir)
      StateStore.write(BatchApplier.applyOplogBatch(ds, st, task, Some(source)), ldir)
    }
    val got = readMap(bdir)
    val want = readMap(ldir)
    assert(got === want)
    // and the values are what the CDC semantics demand
    assert(got("a")._1 === """{"_id":"a","value":12.0}""")
    assert(got("b")._1 === """{"_id":"b","value":22.0}""")
    assert(!got.contains("c"))
    assert(got("z")._1 === """{"_id":"z","value":50.0}""") // source-authoritative fallback
    assert(!got.contains("y")) // untouched source keys never enter state
  }

  test("a commit writes deltas only for dirty buckets; cold buckets' files are untouched") {
    val dir = tmp("bucketed-dirty")
    // seed 64 keys across all 8 buckets
    val seedState = (0 until 64)
      .map(i => (s"k$i", s"""{"_id":"k$i","value":$i.0}""", null: String, 1L))
      .toDF("id", "doc", "parent", "ts")
    BucketedStateStore.seed(seedState, dir, spec)
    val m0 = BucketedStateStore.readManifest(dir).get
    assert(m0.buckets.values.forall(b => b.base.isDefined && b.deltas.isEmpty))

    // one-key batch: exactly one bucket may gain a delta
    BucketedStateStore.applyBatch(
      spark.createDataset(Seq(ev(5, 0, "u", "k3", """{"$set":{"value":103.0}}"""))),
      task, dir, spec)
    val m1 = BucketedStateStore.readManifest(dir).get
    val changed = m1.buckets.filter { case (b, f) => m0.buckets.get(b) != Some(f) }
    assert(changed.size === 1, s"exactly one dirty bucket, got ${changed.keys}")
    assert(changed.head._2.deltas.size === 1)
    // every cold bucket still points at its original (seed) base file
    (m1.buckets.keySet - changed.head._1).foreach { b =>
      assert(m1.buckets(b) === m0.buckets(b), s"bucket $b must be untouched")
    }
    assert(readMap(dir)("k3")._1 === """{"_id":"k3","value":103.0}""")
  }

  test("prior-key lookup broadcasts the keys and never shuffles the state side") {
    val dir = tmp("bucketed-plan")
    val seedState = (0 until 64)
      .map(i => (s"k$i", s"""{"_id":"k$i","value":$i.0}""", null: String, 1L))
      .toDF("id", "doc", "parent", "ts")
    BucketedStateStore.seed(seedState, dir, spec)
    val few = Seq("k1", "k9", "k17")
    // the same three keys repeated 500,001 times: the broadcast cap
    // counts the distinct keys' bytes, not rows
    val repeated = spark.range(500001)
      .select(element_at(typedLit(few), (col("id") % 3 + 1).cast("int")).as("id"))
    Seq(few.toDF("id"), repeated).foreach { keys =>
      val prior = BucketedStateStore.priorFor(spark, dir, keys)
      val plan = prior.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"keys must broadcast:\n${plan.take(2000)}")
      // the parquet state scan (the join's streamed branch, printed
      // between the join node and the BroadcastExchange of the build
      // side) must feed the join directly — no hash repartition. The key
      // range must also reach the scan as pushed parquet filters.
      val joinIdx = plan.indexOf("BroadcastHashJoin")
      val stateSide = plan.substring(joinIdx, plan.indexOf("BroadcastExchange", joinIdx))
      assert(!stateSide.contains("Exchange hashpartitioning"),
        s"state scan must reach the join unshuffled:\n${stateSide.take(2500)}")
      assert(stateSide.contains("GreaterThanOrEqual(id,") && stateSide.contains("LessThanOrEqual(id,"),
        s"key range must be pushed to parquet:\n${stateSide.take(2500)}")
      assert(prior.collect().map(_.getAs[String]("id")).toSet === few.toSet)
    }
  }

  test("delta chains compact past the threshold and tombstones are physically dropped") {
    val dir = tmp("bucketed-compact")
    // every batch touches the SAME key -> same bucket accumulates deltas
    (1 to 7).foreach { sec =>
      val op = if (sec == 4) ev(sec, 0, "d", "hot", """{"_id":"hot"}""")
      else ev(sec, 0, "i", "hot", s"""{"_id":"hot","value":$sec.0}""")
      BucketedStateStore.applyBatch(spark.createDataset(Seq(op)), task, dir, spec)
    }
    val m = BucketedStateStore.readManifest(dir).get
    val hotBucket = m.buckets.values.toSeq
    assert(hotBucket.forall(_.deltas.size < spec.compactThreshold),
      s"chains must stay under the threshold: $m")
    assert(readMap(dir)("hot")._1 === """{"_id":"hot","value":7.0}""")
    // a compacted base holds live rows only: no delete tombstones remain
    val live = m.allLivePaths(dir)
    val tomb = spark.read.parquet(live: _*).filter(col("action") === "delete").count()
    // tombstones may survive only in NOT-yet-compacted deltas of the
    // current chain; the delete at sec=4 must have been compacted away
    assert(tomb === 0, "compaction must drop tombstones")
  }

  test("vacuum bounds history: old manifests and unreferenced data dirs are deleted") {
    val dir = tmp("bucketed-vacuum")
    (1 to 6).foreach { sec =>
      BucketedStateStore.applyBatch(
        spark.createDataset(Seq(ev(sec, 0, "i", s"k$sec", s"""{"_id":"k$sec","value":$sec.0}"""))),
        task, dir, spec)
    }
    // count manifest FILES (the Hadoop local FS adds hidden .crc sidecars)
    val manifests = StateIO.list(s"$dir/manifest")
      .map(_.getPath.getName).count(n => n.startsWith("m_") && n.endsWith(".json"))
    assert(manifests <= spec.retainManifests,
      s"must retain at most ${spec.retainManifests} manifests, found $manifests")
    // every file referenced by the current manifest still exists
    val m = BucketedStateStore.readManifest(dir).get
    m.allLivePaths(dir).foreach(p => assert(Files.exists(JPaths.get(p)), s"missing $p"))
    // and reads are intact after vacuuming
    assert(readMap(dir).keySet === (1 to 6).map(i => s"k$i").toSet)
  }

  test("replaying the same micro-batch is a value-level no-op (foreachBatch retry)") {
    val dir = tmp("bucketed-replay")
    val b1 = spark.createDataset(Seq(ev(1, 0, "i", "a", """{"_id":"a","value":1.0}""")))
    val b2 = spark.createDataset(Seq(ev(2, 0, "u", "a", """{"$set":{"value":5.0}}""")))
    BucketedStateStore.applyBatch(b1, task, dir, spec)
    BucketedStateStore.applyBatch(b2, task, dir, spec)
    val before = readMap(dir)
    BucketedStateStore.applyBatch(b2, task, dir, spec) // replay
    assert(readMap(dir) === before)
  }

  test("full read: compacted buckets scan exchange-free; stale shared-delta rows cannot resurrect") {
    import org.apache.spark.sql.functions.{col, pmod, hash}
    val dir = tmp("bucketed-read-split")
    // two keys in DIFFERENT buckets (computed, not assumed)
    val cands = (0 until 40).map(i => s"key$i")
    val byBucket = cands.toDF("id")
      .select(col("id"), pmod(hash(col("id")), org.apache.spark.sql.functions.lit(spec.nBuckets)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val (ka, kb) = (byBucket.head._1,
      byBucket.find(_._2 != byBucket.head._2).get._1)

    // commit 1: one SHARED delta touching both buckets
    BucketedStateStore.applyBatch(spark.createDataset(Seq(
      ev(1, 0, "i", ka, s"""{"_id":"$ka","value":1.0}"""),
      ev(1, 1, "i", kb, s"""{"_id":"$kb","value":2.0}"""))), task, dir, spec)
    // commits 2+3: only ka's bucket -> its chain crosses threshold 3 and
    // compacts; the shared delta STILL physically holds ka's old row,
    // and kb's bucket still references it
    BucketedStateStore.applyBatch(spark.createDataset(Seq(
      ev(2, 0, "u", ka, """{"$set":{"value":10.0}}"""))), task, dir, spec)
    BucketedStateStore.applyBatch(spark.createDataset(Seq(
      ev(3, 0, "u", ka, """{"$set":{"value":11.0}}"""))), task, dir, spec)

    val m = BucketedStateStore.readManifest(dir).get
    val aB = byBucket.toMap.apply(ka)
    val bB = byBucket.toMap.apply(kb)
    assert(m.buckets(aB).deltas.isEmpty, s"ka's bucket must be compacted: $m")
    assert(m.buckets(bB).deltas.nonEmpty, s"kb's bucket must still carry the shared delta: $m")

    val got = readMap(dir)
    assert(got.size === 2, s"no duplicates or resurrections: $got")
    assert(got(ka)._1 === s"""{"_id":"$ka","value":11.0}""", "compacted value wins over the stale shared-delta row")
    assert(got(kb)._1 === s"""{"_id":"$kb","value":2.0}""")

    // after compacting EVERYTHING the full read needs no exchange at all
    val dir2 = tmp("bucketed-read-clean")
    val spec1 = spec.copy(compactThreshold = 1) // every commit compacts
    BucketedStateStore.applyBatch(spark.createDataset(Seq(
      ev(1, 0, "i", ka, s"""{"_id":"$ka","value":1.0}"""),
      ev(1, 1, "i", kb, s"""{"_id":"$kb","value":2.0}"""))), task, dir2, spec1)
    val plan = BucketedStateStore.read(spark, dir2).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"a fully-compacted store must read shuffle-free:\n${plan.take(2000)}")
  }

  test("a deleted key cannot resurrect through another bucket's shared-delta chain") {
    // ADVICE r7 (high): compaction drops x's tombstone from bucket A's
    // new base while the shared delta_1 — still referenced by bucket
    // B's chain — physically holds x's original upsert. An unscoped
    // union scan would see that stale row as the highest live __seq
    // for x and revive the deleted key (in read(), in priorFor(), and
    // baked into a later compacted base). Scans must scope each delta
    // dir to the buckets whose CURRENT chain references it.
    import org.apache.spark.sql.functions.{col, pmod, hash, lit}
    val dir = tmp("bucketed-resurrect")
    val byBucket = (0 until 60).map(i => s"key$i").toDF("id")
      .select(col("id"), pmod(hash(col("id")), lit(spec.nBuckets)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    val x = byBucket.head._1
    val bucketA = byBucket.head._2
    val w = byBucket.find(p => p._2 == bucketA && p._1 != x).get._1 // same bucket as x
    val y = byBucket.find(_._2 != bucketA).get._1                  // a different bucket

    def apply1(rows: OplogRow*): Unit =
      BucketedStateStore.applyBatch(spark.createDataset(rows), task, dir, spec)

    // commit 1 — ONE shared delta holding x (bucket A) and y (bucket B)
    apply1(ev(1, 0, "i", x, s"""{"_id":"$x","value":1.0}"""),
           ev(1, 1, "i", y, s"""{"_id":"$y","value":2.0}"""))
    // commit 2 — delete x
    apply1(ev(2, 0, "d", x, s"""{"_id":"$x"}"""))
    // commit 3 — touch w: A's chain hits the threshold (3) and compacts;
    // x's tombstone is dropped from the new base while delta_1 (with
    // x's old upsert) remains live via B's chain
    apply1(ev(3, 0, "i", w, s"""{"_id":"$w","value":3.0}"""))
    val m = BucketedStateStore.readManifest(dir).get
    assert(m.buckets(bucketA).deltas.isEmpty, s"bucket A must be compacted: $m")
    val bucketB = byBucket.toMap.apply(y)
    assert(m.buckets(bucketB).deltas.nonEmpty, s"bucket B must still reference the shared delta: $m")

    // full read: x stays deleted
    assert(readMap(dir).keySet === Set(w, y), "read() must not resurrect the deleted key")

    // point lookup dirtying BOTH buckets: prior for x must be absent
    val prior = BucketedStateStore.priorFor(spark, dir, Seq(x, y).toDF("id"))
    assert(prior.collect().map(_.getAs[String]("id")).toSet === Set(y),
      "priorFor must not resurrect the deleted key through B's chain")

    // a later $set against x (no source snapshot) must be dropped, not
    // applied to the resurrected doc; y's update applies normally
    apply1(ev(4, 0, "u", x, """{"$set":{"value":99.0}}"""),
           ev(4, 1, "u", y, """{"$set":{"value":20.0}}"""))
    val after = readMap(dir)
    assert(!after.contains(x), "a $set on the deleted key must not revive it")
    assert(after(y)._1 === s"""{"_id":"$y","value":20.0}""")

    // force B's bucket to compact too: the new base must not bake x in
    apply1(ev(5, 0, "u", y, """{"$set":{"value":21.0}}"""))
    val m2 = BucketedStateStore.readManifest(dir).get
    assert(m2.buckets(bucketB).deltas.isEmpty, s"bucket B must now be compacted: $m2")
    assert(readMap(dir).keySet === Set(w, y), "compaction must not bake the stale row into B's base")
  }

  test("reshard: state survives a bucket-count change and later applies use the new layout") {
    val dir = tmp("bucketed-reshard")
    (1 to 5).foreach { sec =>
      BucketedStateStore.applyBatch(
        spark.createDataset(Seq(ev(sec, 0, "i", s"k$sec", s"""{"_id":"k$sec","value":$sec.0}"""))),
        task, dir, spec)
    }
    val before = readMap(dir)
    BucketedStateStore.reshard(spark, dir, 32)
    val m = BucketedStateStore.readManifest(dir).get
    assert(m.nBuckets === 32)
    assert(m.buckets.values.forall(f => f.base.isDefined && f.deltas.isEmpty))
    assert(readMap(dir) === before)
    // further applies pick up the NEW bucket count from the manifest
    // (the caller's spec still says 8 — the manifest is authoritative)
    BucketedStateStore.applyBatch(
      spark.createDataset(Seq(ev(9, 0, "u", "k3", """{"$set":{"value":33.0}}"""))),
      task, dir, spec)
    assert(readMap(dir)("k3")._1 === """{"_id":"k3","value":33.0}""")
    assert(BucketedStateStore.readManifest(dir).get.nBuckets === 32)
  }

  test("a torn commit (delta written, manifest not swapped) is invisible and gets vacuumed") {
    val dir = tmp("bucketed-torn")
    BucketedStateStore.applyBatch(
      spark.createDataset(Seq(ev(1, 0, "i", "a", """{"_id":"a","value":1.0}"""))), task, dir, spec)
    val before = readMap(dir)
    val mBefore = BucketedStateStore.readManifest(dir).get

    // simulate a crash mid-commit: an orphan delta directory exists on
    // disk but no manifest references it
    val orphan = java.nio.file.Paths.get(dir, "data", s"delta_${mBefore.seq + 1}")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))

    // readers resolve through the manifest only: state is unchanged
    assert(readMap(dir) === before)
    assert(BucketedStateStore.readManifest(dir).get === mBefore)

    // the next successful commit (the foreachBatch replay) overwrites
    // the orphan's seq slot and vacuum reclaims unreferenced dirs
    BucketedStateStore.applyBatch(
      spark.createDataset(Seq(ev(2, 0, "u", "a", """{"$set":{"value":2.0}}"""))), task, dir, spec)
    assert(readMap(dir)("a")._1 === """{"_id":"a","value":2.0}""")
    val m = BucketedStateStore.readManifest(dir).get
    m.allLivePaths(dir).foreach(p =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p)), s"live path missing: $p"))
  }

  test("a conflicting concurrent commit is detected and aborts; the store stays intact") {
    // single-writer contract (VERDICT r7 #4): if another writer swaps
    // the pointer between our manifest load and our swap, committing
    // anyway would silently orphan one of the two commits (and our
    // manifest could reference delta files the other writer overwrote
    // or vacuumed). The commit must abort cleanly instead.
    val dir = tmp("bucketed-conflict")
    BucketedStateStore.applyBatch(
      spark.createDataset(Seq(ev(1, 0, "i", "a", """{"_id":"a","value":1.0}"""))), task, dir, spec)

    import org.apache.spark.sql.functions.{col, pmod, hash, lit}
    def bucketOf(id: String): Int = Seq(id).toDF("id")
      .select(pmod(hash(col("id")), lit(spec.nBuckets))).head().getInt(0)
    val mine = Seq(("b", """{"_id":"b","value":2.0}""", null: String, BsonTs(2, 0).toLong, "upsert"))
      .toDF("id", "doc", "parent", "ts", "action")
    val theirs = Seq(("c", """{"_id":"c","value":3.0}""", null: String, BsonTs(2, 1).toLong, "upsert"))
      .toDF("id", "doc", "parent", "ts", "action")
    val ex = intercept[java.util.ConcurrentModificationException] {
      BucketedStateStore.commitDelta(mine, dir, spec, Set(bucketOf("b")),
        // the interposed writer lands a full commit before our swap
        preSwap = () => { BucketedStateStore.commitDelta(theirs, dir, spec, Set(bucketOf("c"))); () })
    }
    assert(ex.getMessage.contains("single-writer"))
    // the surviving store is the other writer's commit, fully intact
    val got = readMap(dir)
    assert(got.keySet === Set("a", "c"), s"winner's commit must survive unharmed: $got")
    val m = BucketedStateStore.readManifest(dir).get
    m.allLivePaths(dir).foreach(p =>
      assert(Files.exists(JPaths.get(p)), s"live path missing after aborted commit: $p"))
    // and the next legitimate commit proceeds normally
    BucketedStateStore.applyBatch(
      spark.createDataset(Seq(ev(3, 0, "i", "d", """{"_id":"d","value":4.0}"""))), task, dir, spec)
    assert(readMap(dir).keySet === Set("a", "c", "d"))
  }

  test("manifest JSON round-trips exactly (parse . render = identity)") {
    val m = BucketedStateStore.Manifest(16, 42L, Map(
      0 -> BucketedStateStore.BucketFiles(Some("data/base_7/__bucket=0"), Vector("data/delta_8", "data/delta_9")),
      3 -> BucketedStateStore.BucketFiles(None, Vector("data/delta_9")),
      15 -> BucketedStateStore.BucketFiles(Some("data/base_40/__bucket=15"), Vector.empty)))
    assert(BucketedStateStore.Manifest.parse(m.render) === m)
    // and a second render of the parse is byte-identical (stable order)
    assert(BucketedStateStore.Manifest.parse(m.render).render === m.render)
  }

  test("legacy store prunes versions older than the retention window") {
    val dir = tmp("legacy-prune")
    (0 until 5).foreach { i =>
      val st = Seq((s"k$i", s"""{"_id":"k$i"}""", null: String, i.toLong))
        .toDF("id", "doc", "parent", "ts")
      StateStore.write(st, dir, retain = 2)
    }
    assert(StateStore.currentVersion(dir) === Some(4))
    val vdirs = Files.list(JPaths.get(dir)).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (vdirs.hasNext) names += vdirs.next().getFileName.toString
    assert(names.filter(_.startsWith("v_")).toSet === Set("v_3", "v_4"))
    // current version still reads
    assert(StateStore.read(spark, dir).collect().head.getAs[String]("id") === "k4")
  }
}
