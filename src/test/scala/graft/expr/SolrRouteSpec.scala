package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins SolrCloud-routing parity ([[SolrRouteHash]]): the murmur3
  * x86-32 implementation against published test vectors AND an
  * independent implementation (Guava's murmur3_32, same published
  * algorithm), compositeId 16/16 composition, the even range split of
  * Solr's DocRouter.partitionRange, and the codegen'd [[SolrShard]]
  * column path. */
class SolrRouteSpec extends SparkSpec {

  test("murmur3 x86-32 seed 0: published vectors") {
    assert(SolrRouteHash.murmur3("") == 0)
    assert(SolrRouteHash.murmur3("hello") == 0x248bfa47)
    assert(SolrRouteHash.murmur3("The quick brown fox jumps over the lazy dog") == 0x2e4ff723)
  }

  test("murmur3: parity with an independent implementation over fuzzed keys") {
    val g = com.google.common.hash.Hashing.murmur3_32_fixed()
    // lengths 0-20 cover every block/tail residue; include multi-byte
    // UTF-8 (hash is over UTF-8 bytes) and the '!' characters themselves
    val keys = (0 to 200).map(i => s"key-$i!${"x" * (i % 21)}") ++
      Seq("", "a", "ab", "abc", "abcd", "abcde", "naïve-key", "日本語!キー")
    keys.foreach { k =>
      val expected = g.hashBytes(k.getBytes("UTF-8")).asInt()
      assert(SolrRouteHash.murmur3(k) == expected, s"mismatch for '$k'")
    }
  }

  test("compositeId: prefix!suffix composes 16/16; plain ids hash whole") {
    val h = SolrRouteHash.sliceHash("BUILDING!42")
    assert((h & 0xffff0000) == (SolrRouteHash.murmur3("BUILDING") & 0xffff0000))
    assert((h & 0x0000ffff) == (SolrRouteHash.murmur3("42") & 0x0000ffff))
    assert(SolrRouteHash.sliceHash("plain") == SolrRouteHash.murmur3("plain"))
    // co-location: same prefix ⇒ same shard at any sane shard count
    // (the top 16 bits alone decide any split into ≤ 65536 shards)
    for (n <- Seq(2, 3, 8, 64)) {
      val a = SolrRouteHash.shard("BUILDING!1", n)
      val b = SolrRouteHash.shard("BUILDING!999999", n)
      assert(a == b, s"prefix co-location broken at numShards=$n")
    }
  }

  test("range split: even contiguous ranges over the 32-bit ring") {
    // numShards=4 → boundaries at Int.MinValue + k*(2^30): reconstruct
    // shard from the hash directly and compare against the router for a
    // spread of ids (the formula IS DocRouter.partitionRange's loop)
    (1 to 100).foreach { i =>
      val id = s"doc-$i"
      val h = SolrRouteHash.sliceHash(id).toLong - Int.MinValue.toLong
      val expected = math.min(3L, h / ((0xffffffffL / 4) + 1)).toInt
      assert(SolrRouteHash.shard(id, 4) == expected, id)
    }
    // one shard takes everything
    assert(SolrRouteHash.shard("anything", 1) == 0)
  }

  test("SolrShard column expression equals the Scala router (codegen path)") {
    import spark.implicits._
    codegenOnly {
      val ids = spark.sparkContext.parallelize((1 to 500).map(i =>
        if (i % 3 == 0) s"seg${i % 5}!$i" else s"$i"), 2).toDF("id")
      val got = ids.select(col("id"), hfunctions.solr_shard(col("id"), 8).as("shard"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(got.size == 500)
      got.foreach { case (id, s) =>
        assert(s == SolrRouteHash.shard(id, 8), id)
      }
    }
  }

  test("buildShards router=solrcloud routes every doc to its NRT shard") {
    import spark.implicits._
    val ops = spark.sparkContext
      .parallelize((1 to 200).map(i => ("add", s"id-$i", i)), 2).toDF("kind", "id", "v")
    val out = java.nio.file.Files.createTempDirectory("graft_solrshards").toString + "/s"
    // the write runs the generated routing code
    codegenOnly(graft.batch.BatchPipeline.buildShards(ops, 8, out, router = "solrcloud"))
    val back = graft.batch.BatchPipeline.readShards(spark, out)
      .select(col("id"), col("shard").cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    assert(back.length == 200)
    back.foreach { case (id, s) => assert(s == SolrRouteHash.shard(id, 8), id) }
    intercept[IllegalArgumentException] {
      graft.batch.BatchPipeline.buildShards(ops, 8, out, router = "bogus")
    }
  }
}
