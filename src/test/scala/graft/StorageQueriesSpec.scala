package graft

import graft.queries.StorageQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-facing storage-layout queries: results must equal the plain
  * (layout-free) computation, and the layout assertions inside the
  * queries (PartitionFilters present; zero shuffle exchanges) must hold
  * on real testdata — they `require()` internally, so building the
  * DataFrame is itself the plan-shape check.
  */
class StorageQueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("s6_ctas_partition_prune: pruned read-back equals direct filter") {
    val res = StorageQueries.defs("s6_ctas_partition_prune")(spark, sf)
    val row = res.head()
    val direct = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "F")
      .agg(count(lit(1)).as("cnt"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("revenue"))
      .head()
    assert(row.getAs[Long]("cnt") == direct.getAs[Long]("cnt"))
    assert(row.getAs[Double]("revenue") == direct.getAs[Double]("revenue"))
  }

  test("j_skew_salted: salted shuffle join equals plain join") {
    val res = StorageQueries.defs("j_skew_salted")(spark, sf)
    val e = Tables.events(spark, sf)
    val direct = e.groupBy("event_type").agg(count(lit(1)).as("type_freq"))
      .join(e, "event_type")
      .select("event_id", "event_type", "type_freq")
    assert(res.count() == direct.count())
    assert(res.join(direct, Seq("event_id", "event_type", "type_freq")).count() == direct.count())
  }

  test("s3_sharded_export: all shards written, balanced, totals preserved") {
    val rows = StorageQueries.defs("s3_sharded_export")(spark, sf).collect()
    assert(rows.length == 8, "one summary row per shard")
    val counts = rows.map(_.getAs[Long]("n_docs"))
    assert(counts.sum == Tables.documents(spark, sf).count())
    assert(counts.max <= counts.min * 3 / 2,
      s"shards unbalanced: ${counts.mkString(",")}")
    val totalChars = Tables.documents(spark, sf)
      .agg(sum("n_chars")).head().getLong(0)
    assert(rows.map(_.getAs[Long]("sum_chars")).sum == totalChars)
  }

  test("s2_bucketed_smb_join: shuffle-free result equals plain join") {
    val res = StorageQueries.defs("s2_bucketed_smb_join")(spark, sf)
    val o = Tables.orders(spark, sf)
    val l = Tables.lineitem(spark, sf)
    val direct = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("cnt"),
        (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0).as("revenue"))
    assert(res.count() == direct.count())
    assert(res.join(direct, Seq("o_orderkey", "cnt", "revenue")).count() == direct.count())
  }

  test("s2 staged layout holds exactly one file per bucket (no task x bucket storm)") {
    // r15 sf100 diagnosis: a bucketed write staged straight off the
    // scan emits one file per (write task x bucket) — 58k ~36 KB files
    // for the orders side alone at the 1000x corpus — and the
    // "zero-shuffle" join pays a tiny-file open/list storm that read
    // 22x/decade. The repartition(buckets, key) before the write pins
    // the layout at one file per bucket; this spec keeps it pinned.
    StorageQueries.defs("s2_bucketed_smb_join")(spark, sf).count() // ensure staged
    val tmpO = graft.queries.StorageQueries.staged.get((spark, sf, "bucket_o"))
    assert(tmpO.nonEmpty, "bucketed layout not staged")
    val buckets = graft.queries.StorageQueries.smbBucketCount(spark, sf)
    for (dir <- Seq(tmpO.get, tmpO.get.replace("bucket_o", "bucket_l"))) {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") || f.getName.startsWith("part-"))
      assert(files.nonEmpty, s"no data files under $dir")
      assert(files.length <= buckets,
        s"$dir holds ${files.length} data files for $buckets buckets — " +
          "the write is no longer clustered by the bucket key")
    }
  }

  test("s10_compaction: compacted copy preserves every document exactly once") {
    val res = StorageQueries.defs("s10_compaction")(spark, sf)
    val rows = res.collect()
    val docs = Tables.documents(spark, sf)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    rows.foreach(r => assert(r.getAs[Long]("n_docs") == r.getAs[Long]("n_ids"),
      s"duplicate doc_ids in compacted output for source ${r.getString(0)}"))
  }

  test("s12_snapshot_diff: the change classes account for every key in either snapshot") {
    val rows = StorageQueries.defs("s12_snapshot_diff")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    val (added, removed, changed, unchanged) = (
      rows.map(_.getAs[Long]("n_added")).sum,
      rows.map(_.getAs[Long]("n_removed")).sum,
      rows.map(_.getAs[Long]("n_changed")).sum,
      rows.map(_.getAs[Long]("n_unchanged")).sum)
    // v1 keys = removed + changed + unchanged; additions are net-new ids
    assert(removed + changed + unchanged == nDocs)
    assert(added > 0 && removed > 0 && changed > 0, "every change class exercised")
  }

  test("s15_manifest_prune: pruned read equals the direct filtered aggregate") {
    val res = StorageQueries.defs("s15_manifest_prune")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("cnt"), r.getAs[Double]("revenue"))).toMap
    val direct = Tables.orders(spark, sf)
      .filter(col("o_totalprice") >= 100000.0 && col("o_totalprice") <= 150000.0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("revenue"))
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("cnt"), r.getAs[Double]("revenue"))).toMap
    assert(res == direct, "manifest-pruned read must lose no row")
  }

  test("s13_gdpr_delete: survivors equal the corpus minus the deletion list") {
    val rows = StorageQueries.defs("s13_gdpr_delete")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    val expected = docs.filter(
      graft.functions.Hashing.bucket(col("doc_id"), 16L) =!= 0L).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == expected)
    assert(expected < docs.count(), "the deletion list must be non-empty")
  }

  test("s11_zorder: the bit interleave is the standard Morton order") {
    // interleave(cb=0b0000_0011, pb=0b0000_0101) =
    //   pb bit0@0 + cb bit0@1 + pb bit1@2 + cb bit1@3 + pb bit2@4
    // = 1 + 2 + 0 + 8 + 16 = 27
    import spark.implicits._
    val df = Seq((3 * 64L, 5 * 2000.0 + 1.0)).toDF("o_custkey", "o_totalprice")
    val cb = expr("least(255, CAST(o_custkey / 64 AS INT))")
    val pb = expr("least(255, CAST(o_totalprice / 2000.0 AS INT))")
    val z = (0 until 8).map { i =>
      shiftleft(shiftright(cb, i).bitwiseAND(lit(1)), 2 * i + 1) +
        shiftleft(shiftright(pb, i).bitwiseAND(lit(1)), 2 * i)
    }.reduce(_ + _)
    assert(df.select(z.as("z")).head().getInt(0) == 27)
    // z-order locality: the query's box (cb<=1, pb<=15) lives below
    // interleave(1, 15) = 2 + 85 = 87 — the prefix property the file
    // pruning assertion rests on
    val boxMax = Seq((96L, 30000.0 - 0.01)).toDF("o_custkey", "o_totalprice")
    assert(boxMax.select(z.as("z")).head().getInt(0) <= 87)
  }
}
