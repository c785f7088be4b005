package graft

import graft.llm.Similarity
import org.apache.spark.sql.functions._

/** SemDeDup (cluster-scoped embedding dedup): keep rule, determinism
  * across partitionings, and fixture sanity. */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("exact duplicate vectors: min id survives, others dropped") {
    // 1 and 3 identical; 2 near-orthogonal; 4 identical to 1 as well
    val df = Seq(
      (1L, vec(1, 0, 0, 0)),
      (2L, vec(0, 1, 0, 0)),
      (3L, vec(1, 0, 0, 0)),
      (4L, vec(1, 0, 0, 0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, "vec_id", "embedding", k = 2, tau = 0.99)
      .orderBy("vec_id").collect()
    val keep = out.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep(1L), "min id of the duplicate group must survive")
    assert(keep(2L), "non-duplicate must survive")
    assert(!keep(3L) && !keep(4L), "higher-id duplicates must be dropped")
  }

  test("two-level semdedup: keep rule matches a brute-force check of its own clusters") {
    // real fixture slice — the invariants that must hold REGARDLESS of
    // how the hierarchical quantizer carved the space: every vector got
    // a cluster labeled by a seed id; within each cluster the keep rule
    // is exactly "dropped iff a smaller-id member sits within tau"
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    val tau = 0.45
    val out = Similarity.semDedupTwoLevel(e, "vec_id", "embedding", k = 0, tau = tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val n = e.count()
    assert(out.length == n, "one row per vector")
    val ids = out.map(_._1).toSet
    out.foreach { case (_, cluster, _) =>
      assert(ids.contains(cluster), s"cluster label $cluster must be a member id (the fine seed)")
    }
    // brute-force the keep rule inside each emitted cluster
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    out.groupBy(_._2).foreach { case (_, members) =>
      val sorted = members.sortBy(_._1)
      sorted.foreach { case (id, _, keep) =>
        val hasCloseSmaller = sorted.exists { case (oid, _, _) =>
          oid < id && cos(vecs(oid), vecs(id)) >= tau }
        assert(keep == !hasCloseSmaller, s"keep rule violated for $id")
      }
    }
    // and the two-level cluster count is in the adaptive-k ballpark:
    // at most k1*f (the ceil roundings can exceed k by up to k1-1)
    val k = math.max(8L, n / 64L).toDouble
    val k1 = math.ceil(math.sqrt(k))
    val f = math.ceil(k / k1)
    assert(out.map(_._2).distinct.length <= k1 * f, "at most k1*f fine clusters")
  }

  test("two-level semdedup: zero-norm vectors get a deterministic cluster, no crash") {
    // a zero-norm embedding makes pairCosine NaN; unguarded, array_max
    // returns NaN, array_position finds no equal element (NaN != NaN)
    // and element_at(__fine, 0) THROWS INVALID_ARRAY_INDEX at runtime.
    // The nanvl guard must instead assign it deterministically (its
    // cell's rank-1 fine seed) and never crash — and the result must be
    // partition-invariant like everything else.
    val df = Seq(
      (1L, vec(1, 0, 0, 0)),
      (2L, vec(0, 1, 0, 0)),
      (3L, vec(0, 0, 0, 0)), // zero-norm: every cosine against it is NaN
      (4L, vec(1, 0.1, 0, 0)),
      (5L, vec(0, 1, 0.1, 0)),
      (6L, vec(0, 0, 1, 0))
    ).toDF("vec_id", "embedding")
    val a = Similarity.semDedupTwoLevel(df, "vec_id", "embedding", k = 4, tau = 0.9)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val b = Similarity.semDedupTwoLevel(df.repartition(5), "vec_id", "embedding",
        k = 4, tau = 0.9)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(a.length == 6, "one row per vector, zero-norm included")
    assert(a.toSeq == b.toSeq, "deterministic under repartitioning")
    // NaN orders GREATER than every number on both engines, so the drop
    // predicate treats a zero-norm row as "near" any clustermate — it
    // survives here only because no smaller-id member shares its cluster
    // (the zero-norm parity spec covers the dropped regime)
    val zrow = a.find(_._1 == 3L).get
    val smallerMates = a.filter(r => r._2 == zrow._2 && r._1 < 3L)
    assert(zrow._3 == smallerMates.isEmpty,
      s"zero-norm keep must follow the NaN-near rule: $zrow mates=$smallerMates")
  }

  test("zero-norm oracle parity: engine matches the guarded mini-oracle, flat and two-level") {
    // r16 ADVICE: the engine's nanvl(-2.0) guard existed only on the
    // Spark side; DuckDB sorts NaN FIRST under ORDER BY sim DESC, so a
    // zero-norm row (all sims NaN) or a zero-norm SEED (NaN against
    // everyone) won oracle argmaxes it lost on the engine — cluster
    // labels diverged corpus-wide. Both engines now demote degenerate
    // sims to -2.0; this spec replays the ORACLE's guarded algorithm
    // (row_number ORDER BY sim DESC, ci/r — first-index tie-break) in
    // plain Scala on a corpus where zero-norm vectors appear both as
    // ROWS and as hash-rank-selected SEEDS, and requires exact equality.
    val ids = (1L to 12L).toSeq
    val ranks = ids.toDF("vec_id")
      .select(col("vec_id"), graft.generators.Gen.u60(col("vec_id"), "ivf").as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val order = ids.sortBy(id => (ranks(id), id))
    // hash-rank-smallest id gets a ZERO-NORM vector: with k=4 (k1=2) it
    // becomes coarse centroid 0 AND cell 0's rank-1 fine seed — the
    // degenerate-seed regime; one mid-rank id is a zero-norm plain row
    val degenerateSeed = order.head
    val zeroRow = order(6)
    val axes = Seq(vec(1, 0, 0, 0), vec(0, 1, 0, 0), vec(0, 0, 1, 0),
      vec(0, 0, 0, 1), vec(1, 0.2, 0, 0), vec(0, 1, 0.2, 0))
    val vecs: Map[Long, Array[Float]] = ids.map { id =>
      id -> (if (id == degenerateSeed || id == zeroRow) vec(0, 0, 0, 0)
             else axes((id % axes.size).toInt))
    }.toMap
    val df = ids.map(id => (id, vecs(id))).toDF("vec_id", "embedding")
    val k = 4; val tau = 0.9
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb)) // NaN when either norm is 0
    }
    def guard(x: Double): Double = if (x.isNaN) -2.0 else x
    def argmaxFirst(sims: Seq[Double]): Int = sims.indexOf(sims.max)
    // the DROP predicate is deliberately UNGUARDED on both engines, and
    // both Spark and DuckDB order NaN GREATER than every number — so
    // `NaN >= tau` is TRUE there (unlike Scala's IEEE false): a zero-norm
    // row with a smaller-id clustermate is dropped. The mini-oracle must
    // encode the engines' semantics, not the JVM's.
    def near(a: Long, b: Long): Boolean = {
      val c = cos(vecs(a), vecs(b)); c.isNaN || c >= tau
    }
    def keepRule(assigned: Map[Long, Long]): Map[Long, Boolean] =
      assigned.map { case (id, cl) =>
        id -> !assigned.exists { case (oid, ocl) =>
          ocl == cl && oid < id && near(oid, id) }
      }
    // ---- flat mini-oracle: k hash-rank centroids, guarded argmax
    val centsF = order.take(k).map(vecs)
    val flatCell = ids.map(id =>
      id -> argmaxFirst(centsF.map(c => guard(cos(vecs(id), c)))).toLong).toMap
    val flatKeep = keepRule(flatCell)
    val flatEng = Similarity.semDedup(df, "vec_id", "embedding", k = k, tau = tau)
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getBoolean(2))).sortBy(_._1)
    assert(flatEng.toSeq == ids.map(id => (id, flatCell(id), flatKeep(id))),
      s"flat parity broke: engine=${flatEng.toSeq}")
    // ---- two-level mini-oracle: k1 coarse, per-cell rank-f fine seeds
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val f = math.ceil(k.toDouble / k1).toInt
    val cents1 = order.take(k1).map(vecs)
    val cell = ids.map(id =>
      id -> argmaxFirst(cents1.map(c => guard(cos(vecs(id), c))))).toMap
    val fineSeeds: Map[Int, Seq[Long]] = ids.groupBy(cell)
      .map { case (c, ms) => c -> ms.sortBy(id => (ranks(id), id)).take(f).toSeq }
    val cluster = ids.map { id =>
      val seeds = fineSeeds(cell(id))
      id -> seeds(argmaxFirst(seeds.map(s => guard(cos(vecs(id), vecs(s))))))
    }.toMap
    val twoKeep = keepRule(cluster)
    val twoEng = Similarity.semDedupTwoLevel(df, "vec_id", "embedding", k = k, tau = tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(twoEng.toSeq == ids.map(id => (id, cluster(id), twoKeep(id))),
      s"two-level parity broke: engine=${twoEng.toSeq}")
    // the stress case actually fired: a zero-norm vector served as seed
    assert(fineSeeds.values.flatten.toSet.contains(degenerateSeed) ||
      cents1.exists(_.forall(_ == 0f)), "fixture no longer exercises a degenerate seed")
  }

  test("two-level semdedup is partition-invariant") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    val a = Similarity.semDedupTwoLevel(e, "vec_id", "embedding", k = 0, tau = 0.45)
      .orderBy("vec_id").collect().toSeq
    val b = Similarity.semDedupTwoLevel(e.repartition(7), "vec_id", "embedding",
        k = 0, tau = 0.45)
      .orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("clusterQuality: counts cover the corpus, cohesion beats a planted split") {
    // two tight bundles around orthogonal axes: every member's cosine to
    // its own centroid must be near 1, so mean_cos is high in both
    // clusters and membership partitions the input exactly
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (x, j) => x + (if (j == i % 4) 0.05f else 0f) }
    val a = vec(1, 0, 0, 0); val b = vec(0, 1, 0, 0)
    val df = ((0 until 12).map(i => (i.toLong, jitter(a, i))) ++
      (12 until 24).map(i => (i.toLong, jitter(b, i)))).toDF("vec_id", "embedding")
    val out = Similarity.clusterQuality(df, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._2).sum == 24L, "every vector must land in exactly one cluster")
    out.foreach { case (ci, n, sumNano, mean) =>
      assert(mean > 0.9, s"cluster $ci mean cosine $mean too low for a tight bundle")
      // the emitted mean must be exactly the two-division projection of
      // the integer sum (the engine-exact contract)
      assert(mean == sumNano.toDouble / n / 1e9)
    }
  }

  test("clusterQuality nano-cosine boundary margin holds on the sf0.01 fixture") {
    // the oracle tolerates an ulp of cosine drift only because no
    // own-centroid cosine lands within ~2e-7 (pre-floor) of a flooring
    // boundary; pin a 1e-6 margin on the real fixture values
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    val k = math.max(8L, e.count() / 64L).toInt
    val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", k)
    val assigned = Similarity.ivfAssign(e, "embedding", cents)
    val centArr = array(cents.map(c => array(c.map(lit): _*)): _*)
    val cos = Similarity.pairCosine(col("embedding"), element_at(centArr, col("cluster") + 1))
    val xs = assigned.select((cos * lit(1e9) + lit(0.5)).as("x")).as[Double].collect()
    xs.foreach { x =>
      val dist = math.abs(x - math.rint(x))
      assert(dist > 1e-6, s"own-centroid cosine too close to a flooring boundary: $x")
    }
  }

  test("keep flags are partition-count invariant") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val r = Similarity.semDedup(df, "vec_id", "embedding", k = 4, tau = 0.8)
        .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSeq
      r
    }
    assert(run(docs.repartition(7)) == run(docs.coalesce(1)))
  }

  test("prototypes: per-cluster top-m by own-centroid cosine, ties by id") {
    // cluster 0 centroid will be seeded from the data; with exact
    // duplicates the tie must break by id (lower id ranks first)
    val df = Seq(
      (1L, vec(1, 0, 0, 0)),
      (2L, vec(1, 0, 0, 0)),
      (3L, vec(0.9, 0.1, 0, 0)),
      (4L, vec(0, 1, 0, 0)),
      (5L, vec(0, 0.9, 0.1, 0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.prototypesPerCluster(df, "vec_id", "embedding", m = 2, k = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(2))).toMap
    // every cluster keeps at most m=2 rows; 5 rows, 2 clusters -> <= 4 kept
    assert(out.size <= 4)
    // the duplicate pair 1,2: both cosine-1.0 to their centroid, so id
    // breaks the tie -> 1 ranks strictly before 2
    if (out.contains(1L) && out.contains(2L)) assert(out(1L) < out(2L))
  }

  test("prototypes: rank is partition-count invariant on the fixture") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.prototypesPerCluster(df, "vec_id", "embedding", m = 8, k = 4)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(run(e.repartition(7)) == run(e.coalesce(1)))
  }

  test("every row comes back exactly once with a cluster in range") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = docs.count()
    val out = Similarity.semDedup(docs, "vec_id", "embedding", k = 8, tau = 0.8)
    assert(out.count() == n)
    assert(out.select("vec_id").distinct().count() == n)
    assert(out.filter(col("cluster") < 0 || col("cluster") >= 8).count() == 0)
  }
}
