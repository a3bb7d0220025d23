package graft.ops

/** The LSH prefix-width knob (r12 verdict #4).
  *
  * Every prefix-bucketed near-dup operator (multimodal_phash_pairs'
  * 12 of 48 bits, dedup_simhash/_pairs' 16 of 60) keeps
  * E[bucket occupancy] = N / 2^bits constant
  * only when the prefix width tracks log₂(N): at the fixture's ~10⁴
  * docs 12 bits holds buckets at ~unity, but at 10⁶+ docs a fixed
  * width densifies candidate volume superlinearly (measured 12.6k →
  * 1.04M candidates for 10× docs) until someone edits source. This is
  * the one config point: `-Dgraft.lsh.prefixBits=N` (or
  * SPARK_GRAFT_LSH_PREFIX_BITS) overrides every operator's width at
  * once — the oracle SQL twins interpolate the same resolved width,
  * so an overridden run stays DuckDB-checkable. Unset, each operator
  * keeps its calibrated default and every oracle hash is unchanged.
  */
object Lsh {

  /** Resolve an operator's prefix width: the global override if set,
    * else `default`; always clamped to [1, hashBits] so a knob sized
    * for simhash's 60-bit space cannot out-shift phash's 48. */
  def prefixBits(default: Int, hashBits: Int): Int = {
    val chosen = sys.props.get("graft.lsh.prefixBits")
      .orElse(sys.env.get("SPARK_GRAFT_LSH_PREFIX_BITS"))
      .map(_.toInt).getOrElse(default)
    math.max(1, math.min(hashBits, chosen))
  }

  /** The width that keeps expected bucket occupancy at or under
    * `targetBucket` for an N-doc corpus: ceil(log₂(N / target)),
    * clamped. This is what a deployment sets the knob to — 12 bits ≈
    * 10⁴ docs, 20 bits ≈ 10⁶ at target 16; LshSpec pins the
    * occupancy bound across twelve orders of magnitude. */
  def bitsFor(n: Long, targetBucket: Long = 16L, min: Int = 8, max: Int = 40): Int = {
    require(n >= 0 && targetBucket > 0)
    val buckets = math.max(1L, (n + targetBucket - 1) / targetBucket)
    val needed = // ceil(log2(buckets))
      if (buckets <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.max(min, math.min(max, needed))
  }
}
