package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication primitives for large-scale training-data pipelines
  * (SURVEY.md §7.4): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Everything is a pure column expression over built-ins (codegen-friendly,
  * no UDFs, no driver state) so each signature computes in a single narrow
  * pass; candidate generation is a shuffle on the band/bucket key — the only
  * shuffle in the pipeline, and it moves (key, doc_id) pairs, not documents.
  *
  * At 100 TB: signatures are ~100 bytes/doc, so the candidate join touches
  * ~0.1% of corpus bytes; exact-verify then fetches only candidate pairs.
  */
object Dedup {

  /** Word tokens, lowercased. */
  def words(text: Column): Column = split(lower(text), "\\s+")

  /** Distinct word 3-shingles — MinHash's input set. */
  def shingles(text: Column): Column = {
    val w = words(text)
    array_distinct(transform(
      sequence(lit(1), greatest(size(w) - 2, lit(1))),
      i => concat_ws(" ", slice(w, i, lit(3)))))
  }

  /** MinHash signature: for each of `n` seeded xxhash64 functions, the min
    * hash over the shingle set. One narrow pass, no shuffle.
    *
    * Computed as a SINGLE fold over the shingle array that updates all `n`
    * mins per shingle — not `n` separate array_min(transform(...)) passes:
    * that form repeats the `shingles(text)` subtree n times in the plan,
    * and tokenize+distinct is ~90 % of the work (measured 16×: 4.5 s vs
    * 0.3 s over 500 docs). Hash values are unchanged — each
    * shingle still hashes as xxhash64(shingle, seed) with IntegerType
    * seeds 0..n-1, so existing recall bounds and band keys are stable. */
  def minhashSignature(text: Column, n: Int = 16): Column =
    aggregate(shingles(text),
      array_repeat(lit(Long.MaxValue), n),
      (acc, s) => zip_with(acc,
        transform(sequence(lit(0), lit(n - 1)), i => xxhash64(s, i)),
        (a, h) => least(a, h)))

  /** LSH band keys: hash `rowsPerBand`-sized slices of the signature. Docs
    * sharing any band key are near-dup candidates (P ≈ 1-(1-j^r)^b). */
  def bandKeys(sig: Column, bands: Int = 4, rowsPerBand: Int = 4): Column =
    array((0 until bands).map(b =>
      xxhash64((0 until rowsPerBand).map(r =>
        element_at(sig, b * rowsPerBand + r + 1)): _*)): _*)

  /** Candidate near-dup pairs via MinHash LSH: explode band keys, self-join
    * per bucket, distinct (a < b). The join key is (band index, band hash) so
    * buckets from different bands never collide.
    *
    * Adversarial-skew guard (q153's frequency-cap trick, applied to the
    * band join): a bucket holds every doc sharing one band key, so 10 k
    * copies of one viral page put 10 k²/2 ≈ 50 M pair rows on the ONE
    * reducer that owns that key — the classic fuzzy-dedup skew failure.
    * Buckets of size ≤ `maxBucket` produce all pairs (the exact LSH
    * semantics); larger buckets degrade to STAR pairs — every member
    * against the bucket's minimum id — which preserves the bucket's
    * connected component exactly (any two members connect through the
    * min) while emitting O(n) rows, so the reducer's output is bounded by
    * cap×cap per small bucket and by bucket size for giant ones. The
    * default cap (1024) is far above any honest bucket at gate scale
    * (near-dup clusters there are pairs/triples), so results are
    * bit-identical where it matters and bounded where it doesn't; skew
    * behavior is pinned by DedupSkewSpec. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 4,
      maxBucket: Int = 1024): DataFrame = {
    // The signature is STAGED through its own projection before bandKeys
    // reads it 16× via element_at — CollapseProject keeps non-cheap
    // multiply-referenced aliases in their own Project, so the fold runs
    // once per doc instead of once per signature position.
    val sig = docs.select(col(idCol).as("id"),
        minhashSignature(col(textCol), bands * rowsPerBand).as("sig"))
      .select(col("id"), bandKeys(col("sig"), bands, rowsPerBand).as("bks"))
    val exploded = sig.select(col("id"), posexplode(col("bks")).as(Seq("band", "bk")))
    // per-bucket size + min id in one aggregate on the SAME key the pair
    // join shuffles on — no extra shuffle shape, one extra skinny frame
    val stats = exploded.groupBy("band", "bk")
      .agg(count(lit(1)).as("n"), min("id").as("minid"))
    val tagged = exploded.join(stats, Seq("band", "bk"))
    val small = tagged.filter(col("n") <= maxBucket)
    val allPairs = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val starPairs = tagged
      .filter(col("n") > maxBucket && col("id") =!= col("minid"))
      .select(col("minid").as("id_a"), col("id").as("id_b"))
    allPairs.unionByName(starPairs).distinct()
  }

  /** 64-bit SimHash over the word-token multiset: per bit, majority vote of
    * the word-hash bits; near-dups differ in few bits. The word hashes are
    * computed once into an array, then each bit is an `aggregate` fold. */
  def simhash(text: Column): Column = {
    val hs = transform(words(text), wd => xxhash64(wd))
    (0 until 64).map { b =>
      val vote = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L)))
      when(vote >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Distinct character n-grams — the exact-verify feature for n-gram
    * Jaccard. */
  def charNgrams(text: Column, n: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** Jaccard similarity of two pre-computed distinct-element arrays —
    * exact integer set sizes, so bit-identical across engines. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Connected components over an undirected edge list — the step that
    * turns pairwise near-dup VERDICTS into dedup CLUSTERS (near-duplicate
    * is not transitive, but survivor selection must be: if a~b and b~c,
    * keeping both a and c still ships two copies of b's content).
    *
    * Iterative min-label propagation WITH pointer doubling: every round,
    * each node adopts the smallest label in its neighborhood, then adopts
    * its label's own label (one extra equi-join on the node-sized label
    * frame). The shortcut step halves the remaining distance to each
    * component's minimum every round, so convergence is O(log diameter)
    * rounds instead of O(diameter) — an adversarially deep chain of
    * near-dup docs converges in ~log2(n) rounds rather than burning
    * `maxIters` (pinned by DedupSpec's 1000-node path test). Each round is
    * two shuffle joins; all state lives in DataFrames: no driver-side
    * graph, so 10^9 edges distribute like any join.
    *
    * @param edges two LONG columns `src`, `dst` (one row per pair, either
    *              orientation)
    * @return (id, component) — component = min node id reachable
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 20,
      driverThreshold: Long = 100000L): DataFrame = {
    // Persist the symmetrized edges ONCE: the loop below references them
    // every round, and without a cache each round would re-run the whole
    // upstream lineage (for dedup graphs, the expensive candidate join).
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist()
    val spark = edges.sparkSession
    try {
      // Tiny-graph regime: below `driverThreshold` edges the whole graph is
      // bounded model state (100 k × 16 B ≈ 1.6 MB — the KMeans-centroid
      // pattern), and per-round shuffle scheduling is pure latency
      // (measured 4 s for a 250-edge graph — ~6 stages × 32
      // near-empty tasks per round). Collect once and run union-find on
      // the driver: exact, deterministic (same min-id labels), and zero
      // shuffles. This also keeps the session conf untouched — the
      // previous approach of shrinking spark.sql.shuffle.partitions for
      // the loop's duration would have silently re-planned any query
      // compiled concurrently on the same session. Large graphs take the
      // distributed pointer-doubling loop below, which never touches conf.
      if (sym.count() < driverThreshold) {
        val es = sym.select(col("src"), col("dst"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x // path compression
          while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        es.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // union by min root so the final label IS the component minimum
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val rows = parent.keys.toSeq.sorted.map(id => (id, find(id)))
        import spark.implicits._
        return rows.toDF("id", "component")
      }
      val nodes = sym.select(col("src").as("id")).distinct()
      // Eager localCheckpoint each round: `labels` feeds TWO joins per
      // round, so without truncation the logical plan doubles every
      // iteration — by round ~12 the plan string alone OOMs the driver.
      // The checkpoint materializes the round's skinny (id, component)
      // rows as cached blocks and restarts lineage from a LogicalRDD;
      // superseded round RDDs are reclaimed by the ContextCleaner once
      // the loop drops its reference. (On a real cluster a lost executor
      // recomputes nothing — the loop restarts the round from the last
      // checkpoint, the standard trade iterative graph algorithms make.)
      var labels = nodes.withColumn("component", col("id")).localCheckpoint()
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        // each node pulls the min label among itself and its neighbors;
        // the previous label rides along so convergence needs no extra join
        val pulled = sym.join(labels, sym("dst") === labels("id"))
          .groupBy(sym("src").as("id"))
          .agg(min(col("component")).as("nbr"))
        val stepped = labels.join(pulled, Seq("id"), "left")
          .select(col("id"), col("component").as("prev"),
            least(col("component"), coalesce(col("nbr"), col("component")))
              .as("component"))
        // pointer doubling: adopt the label OF the label. A label is always
        // the id of a reachable node (init = own id; both steps only import
        // reachable ids), so the shortcut stays within the component while
        // jumping 2^r-distance information per round.
        val lbl = stepped.select(col("id").as("lid"), col("component").as("lcomp"))
        val next = stepped.join(lbl, stepped("component") === lbl("lid"), "left")
          .select(stepped("id"), stepped("prev"),
            least(stepped("component"),
              coalesce(col("lcomp"), stepped("component"))).as("component"))
          .localCheckpoint()
        val changed = next.where(col("component") =!= col("prev"))
          .limit(1).count()
        labels = next.select("id", "component")
        converged = changed == 0
        iter += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIters rounds")
      labels
    } finally {
      sym.unpersist()
    }
  }
}
