package graft.queries

import org.apache.spark.sql.functions._
import graft.ml.{LogReg, Pca}

/** Model-fitting operators exposed as judge-facing queries: PCA projection
  * of the embedding corpus (q127) and a hashed-feature logistic-regression
  * quality classifier (q128). Both are iterative fits whose only driver
  * state is the model itself; the float fits are not SQL-expressible, so
  * each gate query emits exact DuckDB-recomputable keys/counts plus
  * invariant flags the oracle pins (per-vector Bessel bound for q127,
  * accuracy floor for q128), with the raw model surfaces pinned by
  * PcaSpec / LogRegSpec (residual-, variance- and accuracy-based
  * assertions on clustered / labeled corpora).
  */
object MlQueries {

  val defs: Seq[QueryDef] = Seq(

    // PCA: fit top-2 components on the embedding corpus (one distributed
    // moment pass + driver eigen-solve on the 64×64 covariance), project
    // every vector. The classic pre-step before product quantization (q117)
    // — PQ sub-spaces want decorrelated coordinates.
    //
    // Oracle-checked since round 6 (was rows-only): the projection VALUES
    // are eigen-basis/sign-dependent (not DuckDB-expressible), so each
    // per-vector row carries the exact keys (vec_id, label — DuckDB
    // recomputes) plus the projection-INVARIANT flag the oracle pins TRUE:
    // Bessel's inequality, pc1² + pc2² ≤ ‖x − μ‖² (+1e-6 slack for the
    // ≤0.05 component non-orthogonality q149 documents). Non-centered
    // projections, un-normalized components, or a mean/moment bug push
    // some vector past its centered norm and flip THAT row — per-vector
    // resolution, unlike q149's corpus-level flags. The raw pc1/pc2
    // surface stays demonstrated in PcaSpec (planted-anisotropy recovery).
    QueryDef.sql(
      "q127_pca_project",
      """SELECT vec_id, label, TRUE AS proj_within_norm
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = t(s, d, "embeddings")
      val model = Pca.fit(e, "embedding", dim = 64, k = 2)
      val mu = array(model.mean.map(lit(_)): _*)
      val muSq = model.mean.map(x => x * x).sum
      val p1 = Pca.projection(model, 0, col("embedding"))
      val p2 = Pca.projection(model, 1, col("embedding"))
      // ‖x − μ‖² = x·x − 2 x·μ + μ·μ — one literal array, two dot products
      val centeredSq = graft.functions.VectorOps.dot(col("embedding"), col("embedding")) -
        lit(2.0) * graft.functions.VectorOps.dot(col("embedding"), mu) + lit(muSq)
      e.select(col("vec_id"), col("label"),
          (p1 * p1 + p2 * p2 <= centeredSq + lit(1e-6)).as("proj_within_norm"))
        .orderBy("vec_id")
    },

    // q127's audit under the driver gate (the q89/q150 audit pattern —
    // the projection itself stays rows-only because the eigen-solve's sign
    // and float path are not SQL-expressible, but PCA's invariants are
    // checkable): exact per-label counts (DuckDB recomputes them) plus
    // flags the oracle pins TRUE. ortho_ok/unit_ok are driver-side model
    // arithmetic: norms are exact to 1e-6, but orthogonality gets a 0.05
    // ceiling — the deflated power iteration converges slowly when
    // eigenvalues are near-tied (isotropic corpus: measured |c1·c2| ≈
    // 6e-4 at sf0.01, 3e-3 at sf0.1), while a MISSING deflation
    // reads ≈ 1. The distributed flags
    // come from one aggregation over the projected corpus: centered
    // projections average ~0 (mean_ok, 1e-6 ceiling vs ~1e-12 float
    // noise), the top component explains at least its isotropic share
    // (explained_ok ≥ 1.5 % vs ≈ 2×/64 ≈ 3 % expected — a broken
    // projection reads ~0), and var(pc1) ≥ 0.9·var(pc2) (var_order_ok —
    // deflation order, with slack because isotropic eigenvalues are
    // nearly tied; PcaSpec pins strict recovery on planted anisotropy).
    QueryDef.sql(
      "q149_pca_audit",
      """SELECT label,
        |       CAST(count(*) AS BIGINT) AS n_vectors,
        |       TRUE AS ortho_ok, TRUE AS unit_ok,
        |       TRUE AS mean_ok, TRUE AS explained_ok, TRUE AS var_order_ok
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin) { (s, d) =>
      val e = t(s, d, "embeddings")
      val model = Pca.fit(e, "embedding", dim = 64, k = 2)
      val c1 = model.components(0)
      val c2 = model.components(1)
      def dotA(a: Array[Double], b: Array[Double]): Double =
        a.zip(b).map { case (x, y) => x * y }.sum
      val orthoOk = math.abs(dotA(c1, c2)) <= 0.05
      val unitOk = math.abs(math.sqrt(dotA(c1, c1)) - 1.0) <= 1e-6 &&
        math.abs(math.sqrt(dotA(c2, c2)) - 1.0) <= 1e-6
      val stats = e.select(
          Pca.projection(model, 0, col("embedding")).as("p1"),
          Pca.projection(model, 1, col("embedding")).as("p2"),
          graft.functions.VectorOps.dot(col("embedding"), col("embedding"))
            .as("sq"))
        .agg(avg("p1").as("m1"), avg("p2").as("m2"),
          variance("p1").as("v1"), variance("p2").as("v2"),
          avg("sq").as("msq"), count(lit(1)).as("n"))
        .head()
      val (m1, m2, v1, v2) = (stats.getDouble(0), stats.getDouble(1),
        stats.getDouble(2), stats.getDouble(3))
      // total variance ≈ E[‖x‖²] − ‖mean‖² (unit vectors ⇒ ≈ 1 − ‖mean‖²)
      val totalVar = stats.getDouble(4) - dotA(model.mean, model.mean)
      val meanOk = math.abs(m1) <= 1e-6 && math.abs(m2) <= 1e-6
      val explainedOk = (v1 + v2) / totalVar >= 0.015
      val varOrderOk = v1 >= 0.9 * v2 && v2 > 0.0
      e.groupBy("label")
        .agg(count(lit(1)).as("n_vectors"))
        .select(col("label"), col("n_vectors"),
          lit(orthoOk).as("ortho_ok"), lit(unitOk).as("unit_ok"),
          lit(meanOk).as("mean_ok"), lit(explainedOk).as("explained_ok"),
          lit(varOrderOk).as("var_order_ok"))
        .orderBy("label")
    },

    // Quality classifier: fasttext-style filter — learn a curation label
    // from hashed bag-of-words (512 xxhash64 buckets, 12 full-batch GD
    // rounds), score the corpus, report the per-class decision profile.
    //
    // The synthetic corpus is a word salad with NO native lexical signal
    // (every word appears in every lang/source at the base rate), so the
    // label is planted: even/odd doc_id halves get "high-quality" vs
    // "spam" stylistic markers appended — the same make-it-non-vacuous
    // injection discipline as q83's edit variants and q90's noisy copies
    // (the split is doc_id parity, not a hash, precisely so the oracle
    // can recompute the label frame). Real corpora carry this signal
    // natively; the training machinery is identical.
    //
    // Bound oracle (the q10/q58/q75 pattern): the emitted (label, n_docs)
    // rows are exact and DuckDB-recomputable; acc_ok pins per-class
    // training accuracy ≥ 0.9 (LogRegSpec measures ≥ 0.95 on this planted
    // corpus), so a diverged fit, a broken featurizer, or a scoring bug
    // flips the flag and fails the hash gate — the iterative float fit
    // itself stays free to be non-SQL-expressible.
    QueryDef.sql(
      "q128_quality_classifier",
      """SELECT CAST(doc_id % 2 AS INT) AS label,
        |       count(*) AS n_docs,
        |       TRUE AS acc_ok
        |FROM documents
        |GROUP BY 1
        |ORDER BY label""".stripMargin) { (s, d) =>
      val isPos = col("doc_id") % 2 === 1
      val marked = t(s, d, "documents").select(col("doc_id"),
        isPos.cast("int").as("y"),
        concat(col("text"), lit(" "),
          when(isPos, lit("clean precise sourced cited edited"))
            .otherwise(lit("spam clickbait garbled junk lorem"))).as("text"))
      val feats = LogReg.featurize(marked,
        col("text"), col("y"), nFeatures = 512, idCol = col("doc_id"))
        .cache()
      try {
        // iters=16/lr=1.0: at sf0.1 the 8-iter lr=2.0 fit left class 1 at
        // 0.41 accuracy (oscillating step on the 10× corpus) while 16
        // gentler steps reach 1.0000 on BOTH classes at sf0.01 AND sf0.1
        // — the acc_ok>=0.9 flag now has full margin at
        // every gated scale, not just the sf0.01 gate.
        val w = LogReg.train(feats, nFeatures = 512, iters = 16, lr = 1.0)
        feats
          .select(col("y").cast("int").as("label"),
            (LogReg.score(w, col("feats")) >= 0.5).as("pred"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_docs"),
            (sum(when(col("pred") === (col("label") === 1), 1L).otherwise(0L))
              >= count(lit(1)) * 0.9).as("acc_ok"))
          .orderBy("label")
      } finally feats.unpersist()
    },

    // Int8 affine quantization of the embedding column with a
    // reconstruction-error audit — the storage/serving compression every
    // vector pipeline applies before ANN indexes ship (4× smaller than
    // f32; ADC in q117/q158 goes further, this is the lossless-ish first
    // rung). Per-DIMENSION affine params (min/max → scale=(mx−mn)/255),
    // the standard per-channel scheme: 64 param rows, broadcast back over
    // one posexplode pass; the audit reports per-label MSE (ppm) and the
    // max absolute error — bounded by scale/2 by construction, so a
    // broken rounding or a swapped dim shows up as an order-of-magnitude
    // jump. All math is double-identical in both engines; only the final
    // presentation rounds.
    QueryDef.sql(
      "q257_int8_quant",
      """WITH pos AS (
        |  SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
        |rng AS (SELECT i, min(x) AS mn, max(x) AS mx FROM pos GROUP BY i),
        |qt AS (
        |  SELECT p.vec_id, p.label,
        |         p.x - (r.mn + round((p.x - r.mn) / ((r.mx - r.mn) / 255.0))
        |                       * ((r.mx - r.mn) / 255.0)) AS err
        |  FROM pos p JOIN rng r ON p.i = r.i)
        |SELECT label,
        |       CAST(count(*) AS BIGINT) AS n_values,
        |       round(avg(err * err) * 1e6, 6) AS mse_ppm,
        |       round(max(abs(err)) * 1e3, 6) AS max_abs_err_milli
        |FROM qt GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      val pos = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i", "xf")))
        .select(col("vec_id"), col("label"), col("i"),
          col("xf").cast("double").as("x"))
      val rng = pos.groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      val scale = (col("mx") - col("mn")) / 255.0
      pos.join(broadcast(rng), "i")
        .select(col("label"),
          (col("x") - (col("mn") + round((col("x") - col("mn")) / scale)
            * scale)).as("err"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_values"),
          round(avg(col("err") * col("err")) * 1e6, 6).as("mse_ppm"),
          round(max(abs(col("err"))) * 1e3, 6).as("max_abs_err_milli"))
        .orderBy("label")
    },

    // Inter-class centroid cosine matrix: per-label embedding centroids
    // and every pairwise similarity — the class-separability diagnostic
    // read before trusting labels for semantic dedup (q93) or stratified
    // sampling. The corpus reduces ONCE to |labels|×64 centroid
    // components (a partial+final avg over the posexplode); the pairwise
    // cosine runs on the 640-row component frame — at 100 TB the
    // all-pairs part never sees a raw vector. avg() doubles are
    // sum-order-stable far inside the 6 dp round.
    QueryDef.sql(
      "q273_label_centroid_sim",
      """WITH pos AS (
        |  SELECT label, i, CAST(embedding[i] AS DOUBLE) AS x
        |  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
        |cent AS (SELECT label, i, avg(x) AS m FROM pos GROUP BY 1, 2),
        |nrm AS (SELECT label, sqrt(sum(m * m)) AS nn FROM cent GROUP BY 1),
        |pr AS (
        |  SELECT a.label AS label_a, b.label AS label_b, sum(a.m * b.m) AS dot
        |  FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT CAST(label_a AS BIGINT) AS label_a,
        |       CAST(label_b AS BIGINT) AS label_b,
        |       round(dot / (na.nn * nb.nn), 6) AS cos_sim
        |FROM pr JOIN nrm na ON pr.label_a = na.label
        |        JOIN nrm nb ON pr.label_b = nb.label
        |ORDER BY label_a, label_b""".stripMargin) { (s, d) =>
      val cent = t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "xf")))
        .groupBy("label", "i")
        .agg(avg(col("xf").cast("double")).as("m"))
        .localCheckpoint(true) // norms and both pair sides read it
      val nrm = cent.groupBy("label")
        .agg(sqrt(sum(col("m") * col("m"))).as("nn"))
      cent.as("a").join(cent.as("b"),
          col("a.i") === col("b.i") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.m") * col("b.m")).as("dot"))
        .join(broadcast(nrm.select(col("label").as("label_a"),
          col("nn").as("na"))), Seq("label_a"))
        .join(broadcast(nrm.select(col("label").as("label_b"),
          col("nn").as("nb"))), Seq("label_b"))
        .select(col("label_a").cast("long").as("label_a"),
          col("label_b").cast("long").as("label_b"),
          round(col("dot") / (col("na") * col("nb")), 6).as("cos_sim"))
        .orderBy("label_a", "label_b")
    },

    // Common-direction anisotropy audit ("all-but-the-top", Mu &
    // Viswanath 2018): embedding spaces concentrate energy in one common
    // direction that poisons cosine similarity; this measures, per label,
    // the share of centered variance along the TOP PRINCIPAL DIRECTION —
    // the number that tells a pipeline whether to subtract it before
    // ANN/dedup indexing. Unlike q127 (driver eigen-solve, invariant-flag
    // oracle), the eigenvector here is computed by a DISTRIBUTED power
    // iteration the DuckDB oracle replays move for move: the covariance
    // is built from floor(x·1e6) integer quantities (the q280 trick — the
    // Gram sums are exact BIGINTs, order-independent) and rounded to
    // exact integer units; each of the 4 matvec rounds runs on exact
    // BIGINTs (ci·v4 products), renormalizing to an exact 1e-4-unit
    // integer vector — so both engines hold bit-identical state at every
    // round boundary and no convergence tolerance exists to diverge.
    // Scale shape: one explode pass (checkpointed) feeds moments, Gram
    // (map-side-combined to the 64×64 frame) and the projection pass; the
    // power iteration itself touches only the 4096-row covariance and a
    // 64-row vector (broadcast). Audit doubles (proj/variance means)
    // follow the mavg discipline at 6 dp.
    QueryDef.sql(
      "q287_common_direction",
      """WITH el AS (SELECT vec_id, label, i - 1 AS j,
        |                   CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6)
        |                        AS BIGINT) AS q
        |            FROM embeddings,
        |                 unnest(generate_series(1, len(embedding))) AS t(i)),
        |     nv AS (SELECT count(*) AS n FROM embeddings),
        |     st AS (SELECT j, CAST(sum(q) AS BIGINT) AS s FROM el GROUP BY j),
        |     cov AS (SELECT a.j AS j, b.j AS k,
        |                    CAST(round(CAST(sum(a.q * b.q) AS BIGINT)
        |                        / CAST(n AS DOUBLE)
        |                      - (sj.s / CAST(n AS DOUBLE))
        |                        * (sk.s / CAST(n AS DOUBLE)))
        |                      AS BIGINT) AS ci
        |             FROM el a JOIN el b USING (vec_id)
        |                  JOIN st sj ON sj.j = a.j
        |                  JOIN st sk ON sk.j = b.j
        |                  CROSS JOIN nv
        |             GROUP BY a.j, b.j, sj.s, sk.s, n),
        |     v0 AS (SELECT j, CAST(1250 AS BIGINT) AS v4 FROM st),
        |     u1 AS (SELECT c.j, CAST(sum(c.ci * v.v4) AS BIGINT) AS u
        |            FROM cov c JOIN v0 v ON c.k = v.j GROUP BY c.j),
        |     n1 AS (SELECT sqrt(sum(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)))
        |              AS nr FROM u1),
        |     v1 AS (SELECT j, CAST(round(u / nr * 1e4) AS BIGINT) AS v4
        |            FROM u1 CROSS JOIN n1),
        |     u2 AS (SELECT c.j, CAST(sum(c.ci * v.v4) AS BIGINT) AS u
        |            FROM cov c JOIN v1 v ON c.k = v.j GROUP BY c.j),
        |     n2 AS (SELECT sqrt(sum(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)))
        |              AS nr FROM u2),
        |     v2 AS (SELECT j, CAST(round(u / nr * 1e4) AS BIGINT) AS v4
        |            FROM u2 CROSS JOIN n2),
        |     u3 AS (SELECT c.j, CAST(sum(c.ci * v.v4) AS BIGINT) AS u
        |            FROM cov c JOIN v2 v ON c.k = v.j GROUP BY c.j),
        |     n3 AS (SELECT sqrt(sum(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)))
        |              AS nr FROM u3),
        |     v3 AS (SELECT j, CAST(round(u / nr * 1e4) AS BIGINT) AS v4
        |            FROM u3 CROSS JOIN n3),
        |     u4 AS (SELECT c.j, CAST(sum(c.ci * v.v4) AS BIGINT) AS u
        |            FROM cov c JOIN v3 v ON c.k = v.j GROUP BY c.j),
        |     n4 AS (SELECT sqrt(sum(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)))
        |              AS nr FROM u4),
        |     v4f AS (SELECT j, CAST(round(u / nr * 1e4) AS BIGINT) AS v4
        |             FROM u4 CROSS JOIN n4),
        |     pv AS (SELECT vec_id, label,
        |                   sum((q - s / CAST(n AS DOUBLE)) * (v4 / 1e4))
        |                     / 1e6 AS p,
        |                   sum((q - s / CAST(n AS DOUBLE))
        |                       * (q - s / CAST(n AS DOUBLE))) / 1e12 AS sq
        |            FROM el JOIN st USING (j) JOIN v4f USING (j)
        |                 CROSS JOIN nv
        |            GROUP BY vec_id, label)
        |SELECT label,
        |       CAST(count(*) AS BIGINT) AS n_vecs,
        |       round(avg(p * p), 6) AS lam1,
        |       round(avg(sq), 6) AS var_tot,
        |       round(avg(p * p) / avg(sq), 6) AS aniso
        |FROM pv GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      val e = t(s, d, "embeddings")
      val el = e.select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("j", "x")))
        .select(col("vec_id"), col("label"), col("j"),
          floor(col("x").cast("double") * 1e6).cast("long").as("q"))
        .localCheckpoint(true) // feeds moments, Gram AND the audit pass
      // ONE distributed pass for (n, column sums, 64×64 Gram) via
      // treeAggregate over the raw vectors (round-17; was an el⋈el
      // self-join producing n×4096 shuffle rows plus a checkpoint), then
      // the 4-round power iteration runs ENTIRELY on the driver over the
      // 64×64 integer covariance — the old loop paid ~10 tiny Spark jobs
      // (u agg + norm agg + checkpoint per round) of pure job latency for
      // 4096-long arithmetic. Exactness: q, the Gram entries and every
      // u = Σ ci·v4 are INTEGER (order-independent however the tree
      // combines, so parity with the old groupBy sums is exact); the only
      // float steps (ci rounding, nr = √Σu², v4 rounding) replicate the
      // old expressions' arithmetic order with the same HALF_UP rounding.
      val dim = 64
      import s.implicits._
      val zero = (0L, new Array[Long](dim), new Array[Long](dim * dim))
      val (nVecs, sArr, gArr) = e.select(col("embedding"))
        .as[Array[Float]].rdd
        .treeAggregate(zero)(
          seqOp = { case ((n, sA, g), emb) =>
            val m = math.min(dim, emb.length)
            val q = new Array[Long](m)
            var j = 0
            while (j < m) {
              q(j) = math.floor(emb(j).toDouble * 1e6).toLong; j += 1
            }
            j = 0
            while (j < m) {
              sA(j) += q(j)
              var k = 0
              val row = j * dim
              while (k < m) { g(row + k) += q(j) * q(k); k += 1 }
              j += 1
            }
            (n + 1, sA, g)
          },
          combOp = { case ((n1, s1, g1), (n2, s2, g2)) =>
            var i = 0
            while (i < dim) { s1(i) += s2(i); i += 1 }
            i = 0
            while (i < dim * dim) { g1(i) += g2(i); i += 1 }
            (n1 + n2, s1, g1)
          })
      def halfUp(x: Double): Long =
        java.math.BigDecimal.valueOf(x)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      val nD = nVecs.toDouble
      val ci = new Array[Long](dim * dim)
      var jj = 0
      while (jj < dim) {
        var kk = 0
        while (kk < dim) {
          ci(jj * dim + kk) = halfUp(
            gArr(jj * dim + kk) / nD - (sArr(jj) / nD) * (sArr(kk) / nD))
          kk += 1
        }
        jj += 1
      }
      val v4 = Array.fill(dim)(1250L)
      for (_ <- 1 to 4) {
        val u = new Array[Long](dim)
        var j = 0
        while (j < dim) {
          var k = 0; var acc = 0L
          while (k < dim) { acc += ci(j * dim + k) * v4(k); k += 1 }
          u(j) = acc; j += 1
        }
        var ss = 0.0
        j = 0
        while (j < dim) { ss += u(j).toDouble * u(j).toDouble; j += 1 }
        val nr = math.sqrt(ss)
        j = 0
        while (j < dim) { v4(j) = halfUp(u(j) / nr * 1e4); j += 1 }
      }
      val nv = Seq(nVecs).toDF("n")
      val st = (0 until dim).map(j => (j, sArr(j))).toDF("j", "s")
      val v = (0 until dim).map(j => (j, v4(j))).toDF("j", "v4")
      val dCol = col("q") - col("s") / col("n").cast("double")
      val pv = el.join(broadcast(st), Seq("j"))
        .join(broadcast(v), Seq("j"))
        .crossJoin(broadcast(nv))
        .groupBy("vec_id", "label")
        .agg((sum(dCol * (col("v4") / lit(1e4))) / lit(1e6)).as("p"),
          (sum(dCol * dCol) / lit(1e12)).as("sq"))
      pv.groupBy("label")
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          round(avg(col("p") * col("p")), 6).as("lam1"),
          round(avg(col("sq")), 6).as("var_tot"),
          round(avg(col("p") * col("p")) / avg(col("sq")), 6).as("aniso"))
        .orderBy("label")
    },

    // Simplified silhouette per label (Kaufman & Rousseeuw's medoid-free
    // variant: a = distance to OWN centroid, b = distance to the nearest
    // OTHER centroid, s = (b−a)/max(a,b)) — the cluster-cohesion read
    // before trusting labels for stratified sampling or semantic dedup
    // (q93). Exactness discipline (q280/q287): components quantize once
    // to integer 1e-6 units, centroids are INTEGER-DIVISION means (both
    // engines truncate toward zero), so every squared distance is an
    // exact BIGINT; each point's silhouette is ONE double tree over two
    // exact integers, floored to 1e-9 units before the per-label sum —
    // order-free, engine-identical. Scale shape: the corpus streams once
    // through the component explode; the ×|labels| fan-out happens inside
    // a map-side-combined aggregate keyed by (vec_id,label), never as a
    // materialized pair frame.
    QueryDef.sql(
      "q310_silhouette",
      """WITH el AS (
        |  SELECT vec_id, label, i,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT)
        |           AS xq
        |  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
        |cent AS (SELECT label AS cl, i,
        |                CAST(sum(xq) AS BIGINT) // CAST(count(*) AS BIGINT)
        |                  AS mq
        |         FROM el GROUP BY 1, 2),
        |d2 AS (SELECT e.vec_id, e.label, c.cl,
        |              CAST(sum((e.xq - c.mq) * (e.xq - c.mq)) AS BIGINT)
        |                AS d2
        |       FROM el e JOIN cent c ON e.i = c.i GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, label,
        |              CAST(max(CASE WHEN cl = label THEN d2 END) AS BIGINT)
        |                AS a2,
        |              CAST(min(CASE WHEN cl <> label THEN d2 END) AS BIGINT)
        |                AS b2
        |       FROM d2 GROUP BY 1, 2),
        |sil AS (SELECT label,
        |               CASE WHEN greatest(a2, b2) = 0 THEN 0
        |                    ELSE CAST(floor((sqrt(CAST(b2 AS DOUBLE))
        |                              - sqrt(CAST(a2 AS DOUBLE)))
        |                         / greatest(sqrt(CAST(a2 AS DOUBLE)),
        |                                    sqrt(CAST(b2 AS DOUBLE)))
        |                         * 1e9) AS BIGINT) END AS s9,
        |               CAST(floor(sqrt(CAST(a2 AS DOUBLE))) AS BIGINT)
        |                 AS aq,
        |               CAST(floor(sqrt(CAST(b2 AS DOUBLE))) AS BIGINT)
        |                 AS bq
        |        FROM ab WHERE b2 IS NOT NULL)
        |SELECT CAST(label AS BIGINT) AS label,
        |       CAST(count(*) AS BIGINT) AS n_points,
        |       round(CAST(sum(s9) AS DOUBLE) / count(*) / 1e9, 6)
        |         AS mean_silhouette,
        |       round(CAST(sum(aq) AS DOUBLE) / count(*) / 1e6, 6)
        |         AS mean_intra_dist,
        |       round(CAST(sum(bq) AS DOUBLE) / count(*) / 1e6, 6)
        |         AS mean_nearest_other_dist
        |FROM sil GROUP BY 1 ORDER BY label""".stripMargin) { (s, d) =>
      val el = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i", "xf")))
        .select(col("vec_id"), col("label"), col("i"),
          floor(col("xf").cast("double") * 1e6).cast("long").as("xq"))
        .localCheckpoint(true) // skinny; feeds centroids AND distances
      val cent = el.groupBy(col("label").as("cl"), col("i"))
        .agg(expr("sum(xq) div count(*)").as("mq"))
      val d2 = el.join(broadcast(cent), Seq("i"))
        .groupBy("vec_id", "label", "cl")
        .agg(sum((col("xq") - col("mq")) * (col("xq") - col("mq")))
          .as("d2"))
      val ab = d2.groupBy("vec_id", "label")
        .agg(max(when(col("cl") === col("label"), col("d2"))).as("a2"),
          min(when(col("cl") =!= col("label"), col("d2"))).as("b2"))
      val sil = ab.filter(col("b2").isNotNull).selectExpr("label",
        """CASE WHEN greatest(a2, b2) = 0 THEN 0
          |     ELSE CAST(floor((sqrt(CAST(b2 AS DOUBLE))
          |               - sqrt(CAST(a2 AS DOUBLE)))
          |          / greatest(sqrt(CAST(a2 AS DOUBLE)),
          |                     sqrt(CAST(b2 AS DOUBLE))) * 1e9) AS BIGINT)
          |     END AS s9""".stripMargin,
        "CAST(floor(sqrt(CAST(a2 AS DOUBLE))) AS BIGINT) AS aq",
        "CAST(floor(sqrt(CAST(b2 AS DOUBLE))) AS BIGINT) AS bq")
      sil.groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_points"),
          round(sum("s9").cast("double") / count(lit(1)) / 1e9, 6)
            .as("mean_silhouette"),
          round(sum("aq").cast("double") / count(lit(1)) / 1e6, 6)
            .as("mean_intra_dist"),
          round(sum("bq").cast("double") / count(lit(1)) / 1e6, 6)
            .as("mean_nearest_other_dist"))
        .orderBy("label")
    },

    // Davies–Bouldin index per label: scatter S_l (mean distance to own
    // centroid) and the worst ratio R_l = max_{j≠l} (S_l+S_j)/M_lj over
    // centroid separations M — the compactness-vs-separation score whose
    // HIGH terms name exactly which label pairs blur together (the
    // complement of q310's per-point view; q273 gives the cosine analog).
    // Same integer discipline: quantized components, integer-division
    // centroids, exact BIGINT distances; per-point scatter contributions
    // floor to integer 1e-6 units so the scatter sum is order-free; each
    // R_lj is one double tree over exact integers and the max runs over
    // the ≤|labels|² pair frame.
    QueryDef.sql(
      "q311_davies_bouldin",
      """WITH el AS (
        |  SELECT vec_id, label, i,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT)
        |           AS xq
        |  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)),
        |cent AS (SELECT label AS cl, i,
        |                CAST(sum(xq) AS BIGINT) // CAST(count(*) AS BIGINT)
        |                  AS mq
        |         FROM el GROUP BY 1, 2),
        |pd AS (SELECT e.vec_id, e.label,
        |              CAST(sum((e.xq - c.mq) * (e.xq - c.mq)) AS BIGINT)
        |                AS d2
        |       FROM el e JOIN cent c ON e.i = c.i AND e.label = c.cl
        |       GROUP BY 1, 2),
        |sc AS (SELECT label,
        |              CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(CAST(floor(sqrt(CAST(d2 AS DOUBLE)))
        |                            AS BIGINT)) AS BIGINT) AS sd
        |       FROM pd GROUP BY 1),
        |cd AS (SELECT a.cl AS la, b.cl AS lb,
        |              CAST(sum((a.mq - b.mq) * (a.mq - b.mq)) AS BIGINT)
        |                AS m2
        |       FROM cent a JOIN cent b ON a.i = b.i AND a.cl <> b.cl
        |       GROUP BY 1, 2),
        |rr AS (SELECT cd.la, cd.lb,
        |              (CAST(sa.sd AS DOUBLE) / sa.n
        |               + CAST(sb.sd AS DOUBLE) / sb.n)
        |                / sqrt(CAST(cd.m2 AS DOUBLE)) AS r
        |       FROM cd JOIN sc sa ON cd.la = sa.label
        |               JOIN sc sb ON cd.lb = sb.label
        |       WHERE cd.m2 > 0),
        |el2 AS (SELECT la, lb, r,
        |               row_number() OVER (PARTITION BY la
        |                                  ORDER BY r DESC, lb) AS rk
        |        FROM rr)
        |SELECT CAST(e.la AS BIGINT) AS label, sc.n AS n_points,
        |       round(CAST(sc.sd AS DOUBLE) / sc.n / 1e6, 6) AS scatter,
        |       CAST(e.lb AS BIGINT) AS worst_other,
        |       round(e.r, 6) AS db_term
        |FROM el2 e JOIN sc ON e.la = sc.label
        |WHERE e.rk = 1
        |ORDER BY label""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val el = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i", "xf")))
        .select(col("vec_id"), col("label"), col("i"),
          floor(col("xf").cast("double") * 1e6).cast("long").as("xq"))
      val cent = el.groupBy(col("label").as("cl"), col("i"))
        .agg(expr("sum(xq) div count(*)").as("mq"))
        .localCheckpoint(true) // |labels|×64; point join + pair join
      val pd = el.join(
          broadcast(cent.withColumnRenamed("i", "ci")),
          col("i") === col("ci") && col("label") === col("cl"))
        .groupBy("vec_id", "label")
        .agg(sum((col("xq") - col("mq")) * (col("xq") - col("mq")))
          .as("d2"))
      val sc = pd.groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(floor(sqrt(col("d2").cast("double"))).cast("long")).as("sd"))
        .localCheckpoint(true) // |labels| rows; read from both pair sides
      val cd = cent.as("a").join(cent.as("b"),
          col("a.i") === col("b.i") && col("a.cl") =!= col("b.cl"))
        .groupBy(col("a.cl").as("la"), col("b.cl").as("lb"))
        .agg(sum((col("a.mq") - col("b.mq")) * (col("a.mq") - col("b.mq")))
          .as("m2"))
      val rr = cd.filter(col("m2") > 0)
        .join(broadcast(sc.select(col("label").as("la"),
          col("n").as("na"), col("sd").as("sda"))), Seq("la"))
        .join(broadcast(sc.select(col("label").as("lb"),
          col("n").as("nb"), col("sd").as("sdb"))), Seq("lb"))
        .select(col("la"), col("lb"),
          ((col("sda").cast("double") / col("na")
            + col("sdb").cast("double") / col("nb"))
            / sqrt(col("m2").cast("double"))).as("r"))
      val w = Window.partitionBy("la").orderBy(col("r").desc, col("lb"))
      rr.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .join(broadcast(sc.select(col("label").as("la"), col("n"),
          col("sd"))), Seq("la"))
        .select(col("la").cast("long").as("label"),
          col("n").as("n_points"),
          round(col("sd").cast("double") / col("n") / 1e6, 6).as("scatter"),
          col("lb").cast("long").as("worst_other"),
          round(col("r"), 6).as("db_term"))
        .orderBy("label")
    },

    // Grid-density clustering (the distributed DBSCAN shape: GriDBSCAN /
    // cell-based DBSCAN) over the first two embedding coordinates: the
    // corpus reduces ONCE to an 8×8 cell histogram, dense cells
    // (n ≥ 8) become the core set, 8-neighborhood-adjacent core cells
    // merge by connected components, and sparse-cell mass is reported as
    // noise — the density-clustering operator k-means (q93/q128's
    // KMeans) can't express, at the 100 TB shape: all pairwise work
    // happens on the ≤64-row CELL frame, never on points. Components
    // reuse dedup's union-find (cells are bounded model state); the
    // oracle replays them as a recursive-CTE transitive closure (the q91
    // machinery — UNION, not UNION ALL: the adjacency graph has cycles).
    // Every output quantity is an exact integer; no doubles exist.
    QueryDef.sql(
      "q321_grid_dbscan",
      """WITH RECURSIVE p AS (
        |  SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)
        |           AS x,
        |         CAST(floor(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT)
        |           AS y
        |  FROM embeddings),
        |b AS (SELECT min(x) AS mnx, max(x) AS mxx,
        |             min(y) AS mny, max(y) AS mxy FROM p),
        |cells AS (SELECT (x - mnx) // ((mxx - mnx) // 8 + 1) AS cx,
        |                 (y - mny) // ((mxy - mny) // 8 + 1) AS cy,
        |                 CAST(count(*) AS BIGINT) AS n
        |          FROM p, b GROUP BY 1, 2),
        |core AS (SELECT cx, cy, n, cx * 8 + cy AS cid
        |         FROM cells WHERE n >= 8),
        |eg AS (SELECT a.cid AS u, b2.cid AS v
        |       FROM core a JOIN core b2
        |         ON abs(a.cx - b2.cx) <= 1 AND abs(a.cy - b2.cy) <= 1
        |        AND a.cid <> b2.cid),
        |reach AS (
        |  SELECT cid AS node, cid AS anc FROM core
        |  UNION
        |  SELECT r.node, e.u FROM reach r JOIN eg e ON e.v = r.anc),
        |lbl AS (SELECT node, min(anc) AS comp FROM reach GROUP BY 1),
        |cl AS (SELECT l.comp AS cluster_id,
        |              CAST(count(*) AS BIGINT) AS n_cells,
        |              CAST(sum(c.n) AS BIGINT) AS n_points,
        |              min(c.cx) AS cx_min, max(c.cx) AS cx_max,
        |              min(c.cy) AS cy_min, max(c.cy) AS cy_max
        |       FROM core c JOIN lbl l ON c.cid = l.node GROUP BY 1)
        |SELECT cluster_id, n_cells, n_points, cx_min, cx_max, cy_min, cy_max
        |FROM cl
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
        |       CAST(coalesce(sum(n), 0) AS BIGINT),
        |       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |FROM cells WHERE n < 8
        |ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val p = t(s, d, "embeddings").select(
        floor(element_at(col("embedding"), 1).cast("double") * 1e6)
          .cast("long").as("x"),
        floor(element_at(col("embedding"), 2).cast("double") * 1e6)
          .cast("long").as("y"))
        .localCheckpoint(true) // skinny 2-col; bounds + histogram read it
      val b = p.agg(min("x").as("mnx"), max("x").as("mxx"),
        min("y").as("mny"), max("y").as("mxy"))
      val cells = p.crossJoin(broadcast(b))
        .selectExpr("(x - mnx) div ((mxx - mnx) div 8 + 1) AS cx",
          "(y - mny) div ((mxy - mny) div 8 + 1) AS cy")
        .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // ≤64 rows; core + noise read it
      val core = cells.filter(col("n") >= 8)
        .withColumn("cid", col("cx") * 8 + col("cy"))
        .localCheckpoint(true) // ≤64 rows; edges + final join
      val eg = core.selectExpr("cid AS src", "cx AS ax", "cy AS ay")
        .join(broadcast(core.selectExpr("cid AS dst", "cx AS bx", "cy AS by")),
          expr("abs(ax - bx) <= 1 AND abs(ay - by) <= 1 AND src < dst"))
        .select("src", "dst")
      val lbl = graft.dedup.Dedup.connectedComponents(eg)
      val cl = core.join(broadcast(lbl), col("cid") === col("id"), "left")
        .select(col("cx"), col("cy"), col("n"),
          coalesce(col("component"), col("cid")).as("cluster_id"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_cells"), sum("n").as("n_points"),
          min("cx").as("cx_min"), max("cx").as("cx_max"),
          min("cy").as("cy_min"), max("cy").as("cy_max"))
      val noise = cells.filter(col("n") < 8)
        .agg(count(lit(1)).as("n_cells"),
          coalesce(sum("n"), lit(0L)).as("n_points"))
        .selectExpr("CAST(-1 AS BIGINT) AS cluster_id", "n_cells",
          "n_points", "CAST(NULL AS BIGINT) AS cx_min",
          "CAST(NULL AS BIGINT) AS cx_max", "CAST(NULL AS BIGINT) AS cy_min",
          "CAST(NULL AS BIGINT) AS cy_max")
      cl.unionByName(noise).orderBy("cluster_id")
    }
  )
}
