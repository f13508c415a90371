package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

import graft.functions.BloomMightContain

/**
 * Bloom-prefiltered semi join: EXACT `left_semi` results, with a
 * Bloom-filter runtime prefilter that drops non-matching fact rows at scan
 * speed — BEFORE the join shuffle ever sees them.
 *
 * Shape (the same one Spark's own `InjectRuntimeFilter` builds for
 * shuffle-join stages it can see through, expressed here as an explicit
 * operator so it applies across any plan boundary we choose):
 *
 *  1. build: aggregate the small side's join keys into an
 *     `org.apache.spark.util.sketch.BloomFilter` (distributed aggregation,
 *     a few hundred KB sketch collected to the driver — the same
 *     build-collect-rebroadcast cycle as a broadcast-hash join's relation,
 *     but O(bits) instead of O(rows));
 *  2. probe: filter the big side with the codegen'd
 *     [[graft.functions.BloomMightContain]] over `xxhash64(key)` — no
 *     shuffle, whole-stage codegen, false-positive rate `fpp`;
 *  3. verify: exact `left_semi` join of the survivors against the small
 *     side. False positives die here, so the result is bit-identical to a
 *     plain semi join — the Bloom pass only changes WHERE rows die.
 *
 * 100 TB: with a selective small side (say 1% of fact keys match), step 2
 * eliminates ~99% of the 100 TB scan's rows for the cost of one hash +
 * O(numHashFunctions) bit probes per row; the semi-join shuffle then moves
 * ~1 TB instead of 100 TB. `expectedItems`/`fpp` size the sketch
 * (n=1e8 keys at 1% fpp ≈ 120 MB — at that point raise fpp or range-
 * partition the build side; the verify join keeps results exact under any
 * fpp). Keys are always probed as `xxhash64(key)` so any key type works
 * and build/probe hashing agree by construction.
 */
object BloomJoin {

  /** Exact semi join of `big` on `bigKey` against `small`'s `smallKey`,
    * Bloom-prefiltered. Result equals
    * `big.join(small, big(bigKey) === small(smallKey), "left_semi")`.
    *
    * `expectedItems` ≤ 0 (the default) sizes the sketch from a `count()`
    * of the build side — one extra cheap job over the SMALL side, never
    * the fact table. A fixed guess is a scale trap in both directions:
    * undersized, the filter saturates (at 11× its design load the FPP is
    * effectively 1, so the prefilter drops nothing and the verify join
    * pays the full fact-table shuffle — exactly what a 1<<18 guess did
    * against 3M build keys at the 100× sweep); oversized, the broadcast
    * sketch wastes memory on every executor. Counting rows (not distinct
    * keys) over-sizes under key duplication — the safe direction.
    *
    * Auto-sizing persists `small` TRANSIENTLY: the sizing `count()`
    * materializes the cache, `bloomFilter` reads it, and the cache is
    * dropped the moment the sketch bytes are collected to the driver —
    * before this method even returns. The verify join then re-evaluates
    * the build side's lineage once, uncached — the same two total
    * evaluations as the explicit-`expectedItems` path, and no cache
    * entry with caller-owned lifetime escapes (the r10 form leaked one
    * per invocation until the driver's clearCache). Callers with an
    * EXPENSIVE derived build side should persist it themselves before
    * calling.
    *
    * CONTRACT: `small` must be DETERMINISTIC (no `sample`/`rand`-derived
    * lineage) on the auto-sized path. The Bloom sketch is built from the
    * transient cache snapshot, but the verify join lazily re-evaluates
    * `small`'s lineage after the cache is dropped — a nondeterministic
    * build side can materialize keys ABSENT from the sketch, whose big-
    * side rows the prefilter already dropped: a silent FALSE NEGATIVE,
    * the one failure mode the verify join cannot repair (extra sketch
    * keys are harmless — spurious probe survivors die in the verify).
    * Pinning the snapshot instead would mean a cache entry whose lifetime
    * outlives this call (the r10 leak this form fixed) or collecting an
    * unbounded key set to the driver. Nondeterministic callers must
    * persist/checkpoint `small` themselves before calling — then both
    * evaluations read one snapshot. Every engine call site passes
    * deterministic frames (parquet-rooted filters/aggregates). */
  def semiJoin(big: DataFrame, small: DataFrame, bigKey: String, smallKey: String,
               expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val probe =
      if (expectedItems > 0) probeFor(small, smallKey, bigKey, expectedItems, fpp)
      else {
        val build = small.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // probeFor is EAGER (count + bloomFilter collect the sketch), so
        // the cache's useful life ends when it returns
        try probeFor(build, smallKey, bigKey, expectedItems, fpp)
        finally build.unpersist(blocking = false)
      }
    big.filter(probe)
      .join(small.select(col(smallKey)).distinct(),
        col(bigKey) === col(smallKey), "left_semi")
  }

  /** The PREFILTER half of [[semiJoin]] as a standalone probe `Column`:
    * a Bloom membership test of `big`'s `bigKey` against `small`'s
    * `smallKey` population, for callers that run the exact verify join
    * later — on a DERIVED frame rather than on `big` itself. The use
    * case is keeping FAT payload columns out of the verify shuffle:
    * `big.filter(probe)` drops ~all non-candidates at scan speed with no
    * shuffle, the caller then explodes/tokenizes the survivors (narrow),
    * and the exact semi join that removes the ≤`fpp` false positives
    * runs on the skinny derived rows — the payload bytes never cross an
    * exchange. Sizing/evaluation contract matches [[semiJoin]]: pass
    * `expectedItems` if `small` is expensive and unpersisted, since
    * auto-sizing adds a `count()` pass over it. */
  def probeFor(small: DataFrame, smallKey: String, bigKey: String,
               expectedItems: Long = -1L, fpp: Double = 0.01): Column = {
    val counted = if (expectedItems > 0) -1L else small.count()
    // EMPTY build side: nothing can pass the verify join, and
    // `stat.bloomFilter` over zero rows returns a null sketch (NPE on
    // deserialize) — short-circuit to a constant-false probe. Only the
    // auto-sized path knows the count; an explicit `expectedItems` with
    // an empty frame keeps the underlying Spark behavior.
    if (counted == 0) return lit(false)
    val items = if (expectedItems > 0) expectedItems else math.max(64L, counted)
    val bloom = small.stat.bloomFilter(xxhash64(col(smallKey)), items, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    Shim.column(BloomMightContain(Shim.expression(xxhash64(col(bigKey))), bytes))
  }
}
