package graft.queries

import graft.TestSpark
import graft.Tables
import graft.functions.{Hashing, TextHash}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-shape guarantees for the dedup/packing family that the oracle
  * hash can't express: log-round connected-component convergence on
  * high-diameter graphs (the adversarial chained-boilerplate shape)
  * and shard-count-independent determinism of the packing manifest.
  */
class DedupScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("connectedComponents converges on a diameter-50 chain") {
    import spark.implicits._
    // 1-2-3-...-51: min-label propagation needs 50 rounds; star
    // contraction must finish in O(log 50)
    val edges = (1L to 50L).map(i => (i, i + 1)).toDF("u", "v")
    val labels = TextQueries.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.keySet == (1L to 51L).toSet, "every chain node labeled")
    assert(labels.values.forall(_ == 1L), s"component min is 1: $labels")
  }

  test("connectedComponents uses a reliable checkpoint dir when configured") {
    import spark.implicits._
    // spark.graft.checkpointDir lifts star contraction off
    // localCheckpoint (executor-local blocks die with their executor)
    // onto a reliable dir — the multi-executor deployment path.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val edges = (1L to 20L).map(i => (i, i + 1)).toDF("u", "v")
      val labels = TextQueries.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.keySet == (1L to 21L).toSet)
      assert(labels.values.forall(_ == 1L))
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      assert(files(new java.io.File(dir)).nonEmpty,
        "configured checkpoint dir must actually receive checkpoint data")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("semantic-dedup cell cap bounds pair work on an adversarial mega-cell") {
    import spark.implicits._
    // 600 identical embeddings — every vector lands in ONE cell, the
    // all-identical-crawl-boilerplate shape. Uncapped pair work would be
    // n(n-1)/2 = 179,700; with cellCap=100 the cell splits into 6
    // subcells, so emitted pairs (cos = 1.0 for every in-subcell pair)
    // are exactly Σ n_g(n_g-1)/2 — bounded by ~n·cap, linear in n.
    val n = 600
    val cap = 100
    val emb = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val e = (0 until n).map(i => (i.toLong, emb)).toDF("vec_id", "embedding")
      .withColumn("nsq", graft.functions.Fns.normSq(col("embedding")))
    val pairs = IvfQueries.semanticDedupPairs(e, cap)
    val got = pairs.count()
    // exact expectation from the same subcell assignment arithmetic
    val P = graft.functions.TextHash.P
    val nSub = (n + cap - 1) / cap
    val sizes = (0 until n).groupBy(i => ((i.toLong * graft.functions.Hashing.Mult) % P % nSub))
      .values.map(_.size.toLong)
    val expected = sizes.map(g => g * (g - 1) / 2).sum
    assert(got == expected, s"capped pair count: got $got, expected $expected")
    val uncappedPairs = n.toLong * (n - 1) / 2
    assert(got < uncappedPairs / 4,
      s"cap must bound quadratic pair work: $got vs uncapped $uncappedPairs")
  }

  test("semantic-dedup cap is a no-op when every cell is under the cap") {
    import spark.implicits._
    // vectors spread across distinct directions -> small cells; capped
    // and effectively-uncapped (huge cap) runs must emit identical pairs
    val vecs = (0 until 120).map { i =>
      val a = Array.fill(64)(0.0f); a(i % 32) = 1.0f; a(32 + i % 16) = 0.5f
      (i.toLong, a)
    }
    val e = vecs.toDF("vec_id", "embedding")
      .withColumn("nsq", graft.functions.Fns.normSq(col("embedding")))
    def pairSet(cap: Int) = IvfQueries.semanticDedupPairs(e, cap)
      .select("id_keep", "id_drop").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairSet(50) // cells hold ≤ ~dozen vectors each
    val loose = pairSet(Int.MaxValue)
    assert(capped == loose, "under-cap behavior must equal the uncapped pair set")
    assert(loose.nonEmpty, "sanity: the synthetic corpus has near-dup pairs")
  }

  test("connectedComponents separates components and handles shuffled ids") {
    import spark.implicits._
    // two components: a chain given in descending order (worst case for
    // min-first heuristics) and a triangle, plus a duplicate +
    // reversed edge to exercise canonicalization
    val edges = Seq(
      (9L, 8L), (8L, 7L), (7L, 6L), (6L, 5L),
      (20L, 21L), (21L, 22L), (22L, 20L), (20L, 22L), (22L, 21L)
    ).toDF("u", "v")
    val labels = TextQueries.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((5L to 9L).forall(labels(_) == 5L), s"chain labels: $labels")
    assert((20L to 22L).forall(labels(_) == 20L), s"triangle labels: $labels")
    assert(labels.size == 8, "exactly the incident nodes are labeled")
  }

  test("connectedComponents handles hub-and-spoke and bridged chains") {
    import spark.implicits._
    // hub 100 with 400 spokes (the LSH near-clique shape, worst case
    // for per-node neighbor lists) bridged to a chain by one edge
    val hub = (101L to 500L).map(i => (100L, i))
    val chain = (501L to 520L).map(i => (i, i + 1))
    val edges = (hub ++ chain ++ Seq((500L, 501L))).toDF("u", "v")
    val labels = TextQueries.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 422 && labels.values.forall(_ == 100L),
      s"one component rooted at 100: size ${labels.size}")
  }

  test("connectedComponents matches a union-find reference on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 8) {
      val n = 10 + rnd.nextInt(31)
      val ids = new scala.util.Random(trial)
        .shuffle((1L to 200L).toList).take(n) // sparse non-contiguous ids
      val m = 1 + rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driver-side union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // component label = min id in the component
        val expected = nodes.map { v =>
          val root = find(v)
          v -> nodes.filter(u => find(u) == root).min
        }.toMap
        val got = TextQueries.connectedComponents(edges.toDF("u", "v"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"trial $trial: n=$n m=${edges.size}")
      }
    }
  }

  test("connectedComponents on empty edges yields empty labels") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(TextQueries.connectedComponents(edges).count() == 0L)
  }

  test("t_ngram_novelty: duplicated docs score as boilerplate") {
    // sf0.1: the smallest corpus that contains exact-duplicate texts
    val dupSf = "/root/testdata/sf0.1"
    val res = TextQueries.defs("t_ngram_novelty")(spark, dupSf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(res.nonEmpty)
    assert(res.forall { case (_, n, s2, m) => n >= 1 && s2 >= n && m >= 1.0 },
      "df >= 1 per shingle bounds every stat from below")
    // sharp invariant: an exact-duplicate doc's every shingle occurs in
    // >= 2 documents, so its mean document frequency is >= 2
    val docs = Tables.documents(spark, dupSf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val dupIds = docs.groupBy(_._2).values.filter(_.size >= 2)
      .flatMap(_.map(_._1)).toSet
    val byId = res.map(t => t._1 -> t._4).toMap
    val checked = dupIds.filter(byId.contains)
    assert(checked.nonEmpty, "testdata must contain duplicated docs with shingles")
    assert(checked.forall(id => byId(id) >= 2.0),
      "every duplicated doc's mean_df must be >= 2")
  }

  test("corpusShuffle is a permutation and shard-count independent") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val r8 = TextQueries.corpusShuffle(docs, 8L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val r64 = TextQueries.corpusShuffle(docs, 64L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(r8.values.toSeq.sorted == (1L to n).toSeq,
      "shuffle ranks must be a permutation of 1..N")
    // contiguous key ranges concatenate to the same total order at any
    // shard count — the property that lets a 100 TB run raise the count
    assert(r8 == r64, "global permutation must be shard-count independent")
  }

  test("pack payload agrees with the packing manifest") {
    val manifest = TextQueries.defs("t_seq_packing")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val payload = TextQueries.defs("t_pack_payload")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(payload.keySet == manifest.keySet, "same (shard, pack) universe")
    assert(payload.forall { case (k, v) => manifest(k) == v },
      "n_docs and token counts agree pack-by-pack")
  }

  test("packManifest at 64 shards is bitwise-stable vs per-shard recompute") {
    val docs = Tables.documents(spark, sf)
    val got = TextQueries.packManifest(docs, 64L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // independent recompute: shard hash, per-shard doc_id-ordered
    // running sum, integer pack chunking — all in driver-side Scala
    val raw = docs.select(col("doc_id"), col("text")).collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
    val expected = raw.toSeq
      .map { case (id, n) => (((id * Hashing.Mult) % TextHash.P) % 64, id, n) }
      .groupBy(_._1)
      .flatMap { case (shard, rows) =>
        var cum = 0L
        rows.sortBy(_._2).map { case (_, id, n) =>
          cum += n
          (shard, (cum - 1) / 2048, id, n)
        }
      }
      .groupBy(t => (t._1, t._2))
      .map { case (k, g) =>
        (k, (g.size.toLong, g.map(_._4).sum, g.map(_._3).min, g.map(_._3).max))
      }
    assert(got == expected,
      s"64-shard manifest must equal the per-shard recompute (got ${got.size} packs, expected ${expected.size})")
    assert(got.keys.map(_._1).toSet.size > 8, "docs actually spread over >8 shards")
  }

  test("t_containment: directional threshold holds and subsumes the symmetric dups") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextQueries.defs("t_containment")(spark, sf)
      .collect()
    assert(rows.nonEmpty, "the planted near-dups must surface as containments")
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("contained"), r.getAs[Long]("container"))
      assert(a != b, "a doc cannot contain itself")
      assert(2 * r.getAs[Long]("inter") >= r.getAs[Long]("n_contained"),
        "every emitted row must meet the 0.5 containment threshold")
    }
    // symmetric verified dups (jaccard >= 0.5) imply containment >= 0.5
    // of the SMALLER side, so each must reappear here in some direction
    val sym = TextQueries.defs("t_dedup_verified")(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val cont = rows.map(r =>
      (r.getAs[Long]("contained"), r.getAs[Long]("container"))).toSet
    sym.foreach { case (a, b) =>
      assert(cont.contains((a, b)) || cont.contains((b, a)),
        s"verified dup ($a,$b) missing from the containment output")
    }
  }

  test("the memoized LSH pairs leave no cached signature frame behind") {
    // a fresh session is a fresh memo key, so the pairs build here
    val s = spark.newSession()
    val pairs = TextQueries.defs("t_dedup_minhash")(s, sf)
    assert(pairs.count() > 0, "the check must build real pairs")
    // storageLevel looks the frame's plan up in the shared cache manager
    assert(TextQueries.minhashSig(s, sf).storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the signature cache must be released once the pairs are checkpointed")
  }
}
