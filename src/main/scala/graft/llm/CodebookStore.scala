package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.{Path, Paths}

/** Persistent store for trained IVF codebooks.
  *
  * The codebook is the product of a full corpus pass (spherical
  * k-means over every embedding) — at 100 TB that is an expensive
  * offline index build, and it must be paid ONCE per corpus, not once
  * per driver JVM. Before round 9 the trained centroids lived only in
  * a ConcurrentHashMap, so every restart silently retrained; now the
  * first train writes the centroids to a small sidecar file keyed by
  * (corpus dir, k) and every later session — including a restarted
  * one — loads them back bit-identically.
  *
  * Codebook size follows the standard IVF sizing rule |C| ≈ √N
  * (clamped to [4, cap]): cell population ≈ √N keeps both the
  * assignment cost (N·|C|) and the per-probe scan (N/|C|) balanced as
  * the corpus grows, instead of the flat k=64 literal used before.
  *
  * Serialization is a stamped [[Sidecar]] TSV, one centroid per line
  * (`cid<TAB>cn<TAB>v0,v1,...`), doubles via their shortest
  * round-trippable repr (`java.lang.Double.toString` → `.toDouble` is
  * exact by spec).
  */
object CodebookStore {

  type Codebook = Vector[(Long, Vector[Double], Double)]

  /** Incremented on every actual training run; the restart spec pins
    * that a second session loads the file instead of bumping this. */
  @volatile var trainCount: Long = 0L

  /** Index-file root: a real deployment points this at durable shared
    * storage (alongside its checkpoints); default is a stable tmp-dir
    * location so harness runs on one machine share the index across
    * JVM restarts. */
  def indexRoot: Path = Paths.get(
    sys.props.get("graft.index.dir")
      .orElse(sys.env.get("SPARK_GRAFT_INDEX_DIR"))
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-ivf"))

  /** Default |C| cap, tunable via -Dgraft.ivf.kCap. 64 keeps the
    * harness codebooks small enough to inline into the DuckDB oracle;
    * a 100 TB deployment raises it to let |C| ≈ √N grow (N=10^9 wants
    * ~31k cells) — above `SimilarityQueries.broadcastThreshold` the
    * engine automatically delivers the codebook as a broadcast
    * relation instead of a plan literal, so raising the cap no longer
    * inflates the plan (the pre-round-10 literal-projection wall). */
  def kCap: Int = sys.props.get("graft.ivf.kCap").map(_.toInt).getOrElse(64)

  /** |C| ≈ √N, clamped to [4, cap]: cell population ≈ √N balances the
    * N·|C| assignment cost against the N/|C| per-probe scan. */
  def kFor(n: Long, cap: Int = kCap): Int =
    math.min(cap.toLong, math.max(4L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Load the persisted codebook for `dir` if one exists; otherwise
    * train (√N-sized), persist, and return it. */
  def loadOrTrain(spark: SparkSession, dir: String): Codebook = {
    val st = CorpusStamp.of(spark, dir, "embeddings", "vec_id")
    val k = kFor(st.rows)
    val p = Sidecar.path("codebook", dir, s"_k$k.tsv")
    // valid iff the header's corpus stamp (row count + id-set hash,
    // [[CorpusStamp]]) matches — a regenerated corpus, even one landing
    // on the same cardinality and k, must retrain, not silently reuse
    // centroids from vanished data
    Sidecar.readTsv(p, st.token).map(_.map { line =>
      val Array(cid, cn, vs) = line.split("\t", 3)
      (cid.toLong, vs.split(",").map(_.toDouble).toVector, cn.toDouble)
    }).getOrElse {
      val (codebook, _) =
        KMeans.train(spark, dir, k = k, rounds = 3, computeObjective = false)
      val cb = codebook.select(col("cid").cast("long"), col("cv"), col("cn"))
        .orderBy(col("cid"))
        .collect().toVector
        .map(r => (r.getLong(0), r.getSeq[Double](1).toVector, r.getDouble(2)))
      trainCount += 1
      Sidecar.writeTsv(p, st.token, cb.map { case (cid, cv, cn) =>
        s"$cid\t$cn\t${cv.mkString(",")}"
      })
      cb
    }
  }
}

/** Persistent store for the trained PQ index — both halves of the
  * product-quantization state as [[Sidecar]]s (r9 verdict next-round
  * #7): the per-subspace codebook (M×K centroids, a stamped TSV) and the
  * encoded code table (one (n_id, j, code) row per vector per subspace —
  * the "parquet table of codes beside the vectors" a deployment
  * materializes once, a segment manifest). Before round 10 both lived in
  * per-JVM maps, so a restarted session silently re-trained AND
  * re-encoded — at 100 TB the re-encode alone is a full corpus pass.
  *
  * Consistency: training is deterministic in the corpus, so codebook
  * and codes are each valid iff they record the live corpus stamp — no
  * cross-file ordering needed (a crash between the two writes just
  * re-derives the missing half on restart). A vector's codes are
  * written exactly once, by the segment that introduced it — codes never
  * change under a frozen codebook, so the code segments read as a plain
  * union with no latest-wins resolution. The callers supply the training
  * and the encode dataflow; this object owns when they run.
  */
object PqStore {

  type PqCodebook = Vector[(Int, Long, Vector[Double])]

  /** Bumped on every actual training / encode job; the restart spec
    * pins that a second session loads files instead of bumping these. */
  @volatile var trainCount: Long = 0L
  @volatile var encodeCount: Long = 0L

  /** Bumped on every O(batch) delta encode ([[absorb]]); the absorb
    * spec pins that absorbing never bumps [[encodeCount]]. */
  @volatile var absorbCount: Long = 0L

  private def codes(dir: String, m: Int, k: Int) =
    new Sidecar.Manifest(Sidecar.path("pq_codes", dir, s"_m${m}k$k.parquet"))

  private def liveStamp(spark: SparkSession, dir: String): String =
    CorpusStamp.of(spark, dir, "embeddings", "vec_id").token

  /** dir's codebook: the persisted one if it records the live stamp,
    * else `train`ed and persisted. */
  def loadOrTrain(spark: SparkSession, dir: String, m: Int, k: Int)(
      train: => PqCodebook): PqCodebook = {
    val p = Sidecar.path("pq_codebook", dir, s"_m${m}k$k.tsv")
    val stamp = liveStamp(spark, dir)
    Sidecar.readTsv(p, stamp).map(_.map { line =>
      val Array(j, cid, vs) = line.split("\t", 3)
      (j.toInt, cid.toLong, vs.split(",").map(_.toDouble).toVector)
    }).getOrElse {
      val cb = train
      trainCount += 1
      Sidecar.writeTsv(p, stamp, cb.map { case (j, cid, cv) =>
        s"$j\t$cid\t${cv.mkString(",")}"
      })
      cb
    }
  }

  /** dir's code table: the persisted one if it records the live stamp,
    * else the whole corpus `encode`d and persisted as one segment. */
  def loadOrEncode(spark: SparkSession, dir: String, m: Int, k: Int)(
      encode: DataFrame => DataFrame): DataFrame = {
    val stamp = liveStamp(spark, dir)
    val man = codes(dir, m, k)
    Sidecar.read(spark, man.valid(stamp).getOrElse {
      encodeCount += 1
      man.commit(stamp)(seg =>
        encode(graft.ops.Tables.table(spark, dir, "embeddings")).write.parquet(seg.toString))
    })
  }

  /** Bootstrap/test hook (the KnnGraphStore.buildBaseFor shape): encode
    * and persist ONLY `subset` of dir's corpus, recording SUBSET's
    * stamp — the base state an [[absorb]] then extends. */
  def encodeBase(dir: String, m: Int, k: Int, subset: DataFrame)(
      encode: DataFrame => DataFrame): Unit = {
    encodeCount += 1
    codes(dir, m, k).commit(CorpusStamp.ofFrame(subset, "vec_id").token)(seg =>
      encode(subset).write.parquet(seg.toString))
  }

  /** O(batch) incremental encode (r15 verdict #6, the
    * KnnGraphStore.absorb discipline): `batch` — landed in dir's
    * embeddings table — is `encode`d against the FROZEN codebook and
    * lands as a delta segment recording the cumulative stamp; the
    * existing corpus is never re-encoded. A codebook retrain event is by
    * definition a rebuild event (the kNN graph's lifecycle contract).
    * Returns the updated code table. */
  def absorb(spark: SparkSession, dir: String, m: Int, k: Int, batch: DataFrame)(
      encode: DataFrame => DataFrame): DataFrame = {
    val man = codes(dir, m, k)
    val (prev, stamp) = man.tip.getOrElse(
      sys.error(s"no pq code table to absorb into for $dir — encode first"))
    val cumulative = (CorpusStamp.Stamp.parse(stamp) + CorpusStamp.ofFrame(batch, "vec_id")).token
    absorbCount += 1
    Sidecar.read(spark, man.commit(cumulative, prev)(seg => encode(batch).write.parquet(seg.toString)))
  }

  private[llm] def codeSegmentCount(dir: String, m: Int, k: Int): Int =
    codes(dir, m, k).segments.size
}
