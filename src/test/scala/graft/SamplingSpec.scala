package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sampling

/** Row sampling + empty-relation parity (reference
 * src/apply_change_log_to_delta.py:268-281). */
class SamplingSpec extends AnyFunSuite with SparkFixture {
  private val sf = "/root/testdata/sf0.001"
  private lazy val li = spark.read.parquet(s"$sf/lineitem.parquet")

  test("native df.sample: seeded, bounded, and a subset of the source") {
    val n = li.count()
    val s1 = Sampling.sample(li, 0.1, seed = 7L)
    val c1 = s1.count()
    assert(c1 > 0 && c1 < n)
    assert(c1 > n / 50 && c1 < n / 4) // ~10% within generous bounds
    // same seed -> same sample; subset of source rows
    assert(Sampling.sample(li, 0.1, seed = 7L).count() == c1)
    assert(s1.join(li, li.columns.toSeq, "left_anti").count() == 0)
  }

  test("hashSample: deterministic, portable membership rule, key-coherent") {
    val s = Sampling.hashSample(li, "l_orderkey", 0.1, seed = 42L)
    val c = s.count()
    assert(c > 0 && c < li.count())
    assert(Sampling.hashSample(li, "l_orderkey", 0.1, seed = 42L).count() == c)
    // membership depends only on the key: every line of a sampled order is in
    val keys = s.select("l_orderkey").distinct()
    assert(li.join(keys, Seq("l_orderkey"), "left_semi").count() == c)
    // rule check on one sampled key, recomputed in the JVM
    val k = keys.limit(1).head.getLong(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$k:42".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hex.take(4) < "1999")
  }

  test("hashSample edge fractions: 1.0 keeps all, 0.0 keeps none") {
    assert(Sampling.hashSample(li, "l_orderkey", 1.0).count() == li.count())
    assert(Sampling.hashSample(li, "l_orderkey", 0.0).count() == 0)
  }

  test("hashSampleBy: per-stratum rates, unlisted strata follow default") {
    val byFlag = Sampling.hashSampleBy(li, "l_returnflag", "l_orderkey",
        Map("A" -> 1.0, "N" -> 0.0))
      .groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totalA = li.filter(org.apache.spark.sql.functions.col("l_returnflag") === "A").count()
    assert(byFlag.get("A").contains(totalA), "rate-1.0 stratum keeps every row")
    assert(!byFlag.contains("N"), "rate-0.0 stratum drops every row")
    assert(!byFlag.contains("R"), "unlisted stratum follows default=0.0")
    // default=1.0 keeps the unlisted stratum whole
    val withDefault = Sampling.hashSampleBy(li, "l_returnflag", "l_orderkey",
      Map("A" -> 0.0, "N" -> 0.0), default = 1.0)
    assert(withDefault.count() ==
      li.filter(org.apache.spark.sql.functions.col("l_returnflag") === "R").count())
    // same digest rule as hashSample: a 0.1-rate stratum equals
    // hashSample(0.1) restricted to that stratum
    val strat = Sampling.hashSampleBy(li, "l_returnflag", "l_orderkey",
      Map("A" -> 0.1)).select("l_orderkey", "l_linenumber")
    val plain = Sampling.hashSample(li, "l_orderkey", 0.1)
      .filter(org.apache.spark.sql.functions.col("l_returnflag") === "A")
      .select("l_orderkey", "l_linenumber")
    assert(strat.exceptAll(plain).count() == 0 && plain.exceptAll(strat).count() == 0)
  }

  test("emptyRelation: zero rows, exact runtime schema") {
    val schema = StructType(Seq(StructField("a", IntegerType),
      StructField("b", StringType)))
    val e = Sampling.emptyRelation(spark, schema)
    assert(e.count() == 0)
    assert(e.schema == schema)
    // and it unions cleanly (the reference uses it as a fold seed)
    val one = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1, "x")), schema)
    assert(e.unionByName(one).count() == 1)
  }

  test("mixtureSample edges: absent target classes ignored, none -> error") {
    import spark.implicits._
    val in = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b")).toDF("id", "c")
    // target class "z" is absent from the data: ignored, and the mixture
    // resolves over the present classes only — "b" binds (1 row / w=1),
    // so everything achievable is kept
    val out = Sampling.mixtureSample(in, "c", "id",
      Map("a" -> 3.0, "b" -> 1.0, "z" -> 5.0))
    assert(out.count() > 0)
    assert(out.filter(col("c") === "z").count() == 0)
    // no target class present at all is a caller error, not empty output
    assertThrows[IllegalArgumentException] {
      Sampling.mixtureSample(in, "c", "id", Map("y" -> 1.0))
    }
    // weights are relative: scaling them changes nothing
    val doubled = Sampling.mixtureSample(in, "c", "id",
      Map("a" -> 6.0, "b" -> 2.0, "z" -> 10.0))
    assert(doubled.collect().map(_.getLong(0)).toSet ==
      out.collect().map(_.getLong(0)).toSet)
  }

  test("splitByHash: total, disjoint, hashSample-coherent, growth-stable") {
    val keys = li.select(col("l_orderkey").cast("long").as("id")).distinct()
    val n = keys.count()
    val split = Sampling.splitByHash(keys, "id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    val byName = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // total and disjoint: every row gets exactly one of the three labels
    assert(byName.values.sum == n && byName.keySet == Set("train", "val", "test"))
    // fractions land near targets (16-bit digest, generous bounds)
    assert(byName("train") > n * 0.7 && byName("train") < n * 0.9)
    assert(byName("val") > n * 0.04 && byName("val") < n * 0.16)
    // the train split IS hashSample at the same fraction/seed — one
    // digest contract across the samplers
    val train = split.filter(col("split") === "train").select("id")
      .collect().map(_.getLong(0)).toSet
    val hs = Sampling.hashSample(keys, "id", 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(train == hs)
    // growth stability: adding rows never re-assigns an existing key
    val grown = Sampling.splitByHash(
        keys.union(keys.select((col("id") + 1000000L).as("id"))), "id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .filter(col("id") < 1000000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val base = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(grown == base)
    // fractions must sum to 1 — a gap would leave rows unassigned
    assertThrows[IllegalArgumentException] {
      Sampling.splitByHash(keys, "id", Seq(("a", 0.5), ("b", 0.4)))
    }
  }

  test("withShuffleOrder: unique, deterministic, partitioning-invariant shards") {
    import graft.operators.PrefixScan
    val docs = li.select(col("l_orderkey").cast("long").as("id"),
        col("l_linenumber").cast("int").as("w"))
      .groupBy("id").agg(sum("w").cast("int").as("w"))
    val packed = { (parts: Int) =>
      PrefixScan.packShards(
          Sampling.withShuffleOrder(docs.repartition(parts), "id"),
          "shuffle_key", "w", budget = 50, buckets = 3)
        .select("id", "shuffle_key", "shard")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    }
    val a = packed(1)
    // keys are unique (the runningTotal precondition) and key-derived
    assert(a.map(_._2).distinct.size == a.size)
    // identical assignment under a different physical partitioning
    assert(packed(7) == a)
    // the shuffle order is NOT the id order (the whole point): shard 0
    // is not simply the lowest ids
    val shard0 = a.filter(_._3 == 0L).map(_._1).toSet
    val lowest = a.map(_._1).sorted.take(shard0.size).toSet
    assert(shard0 != lowest)
    // a different seed is a different epoch order
    val b = Sampling.withShuffleOrder(docs, "id", seed = 7L)
      .select("id", "shuffle_key")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(b.map(_._2) != a.map(_._2))
  }

  test("tokenMixtureSample: epoch repeats are deterministic, distinct, budget-exact") {
    import spark.implicits._
    // three sources with token masses 1000 / 300 / 5000 (distinct docs,
    // 10 tokens each): weights 1:1:2 with caps 1 / 4 / 1.
    // capacities: a 1000/1=1000, b 300*4/1=1200, c 5000*1/2=2500 ->
    // N=1000 (a binds, realizes exactly cap 1.0); u_b = 1000/300 =
    // 3.333... -> 3 full epochs + partial ~1/3; u_c = 2000/5000 = 0.4
    // -> partial only
    val docs = ((0 until 100).map(i => (i.toLong, "a")) ++
      (100 until 130).map(i => (i.toLong, "b")) ++
      (200 until 700).map(i => (i.toLong, "c")))
      .map { case (id, c) => (id, c, 10L) }
      .toDF("doc_id", "cls", "n_tok")
    def run() = Sampling.tokenMixtureSample(docs, "cls", "doc_id", "n_tok",
        Map("a" -> 1.0, "b" -> 1.0, "c" -> 2.0),
        Map("b" -> 4.0))
      .select("doc_id", "cls", "epoch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val got = run()
    assert(got == run(), "token mixture is not deterministic")
    val byCls = got.groupBy(_._2)
    // binding class a: exactly one full epoch, nothing else
    assert(byCls("a").map(_._3).toSet == Set(0L))
    assert(byCls("a").size == 100)
    // b: epochs 0..2 full (every doc), epoch 3 partial (~1/3 of docs)
    val b = byCls("b")
    (0L to 2L).foreach(e =>
      assert(b.count(_._3 == e) == 30, s"epoch $e of b must be full"))
    val bPartial = b.filter(_._3 == 3L)
    assert(bPartial.nonEmpty && bPartial.size < 30)
    // repeated epochs are DISTINCT rows of the same docs: (doc, epoch)
    // unique, and full-epoch doc sets identical across epochs
    assert(b.map(x => (x._1, x._3)).distinct.size == b.size)
    assert(b.filter(_._3 == 0L).map(_._1).toSet ==
      b.filter(_._3 == 2L).map(_._1).toSet)
    // c: partial epoch only, ~40% of docs
    val c = byCls("c")
    assert(c.map(_._3).toSet == Set(0L))
    assert(math.abs(c.size - 200) < 40, s"expected ~200 of 500, got ${c.size}")
    // the partial subset is the content-keyed md5 subset: stable under
    // a different physical partitioning of the input
    val repart = Sampling.tokenMixtureSample(docs.repartition(13), "cls",
        "doc_id", "n_tok", Map("a" -> 1.0, "b" -> 1.0, "c" -> 2.0),
        Map("b" -> 4.0))
      .select("doc_id", "cls", "epoch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(repart.sorted == got.sorted)
  }

  test("tokenMixtureSample == independent driver reimplementation on 15 random mixes") {
    import spark.implicits._
    import scala.util.Random
    // full reimplementation of the contract OUTSIDE Spark — JVM
    // MessageDigest md5, driver arithmetic — so the column pipeline is
    // checked against an independent implementation, not itself
    def digest4(k: Long, seed: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"$k:$seed".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.take(4)
    }
    def cutHex(f: Double): String =
      if (f >= 1.0) "zzzz" else f"${math.floor(f * 65536).toLong}%04x"
    def expected(rows: Seq[(Long, String, Long)], targets: Map[String, Double],
                 caps: Map[String, Double], dflt: Double,
                 seed: Long): Set[(Long, String, Long)] = {
      val toks = rows.groupBy(_._2).map { case (c, rs) => c -> rs.map(_._3).sum }
      val present = targets.filter { case (c, _) => toks.get(c).exists(_ > 0L) }
      def cap(c: String) = caps.getOrElse(c, dflt)
      val bigN = present.map { case (c, w) => (toks(c).toDouble * cap(c)) / w }.min
      val plan = present.map { case (c, w) =>
        val u =
          if ((toks(c).toDouble * cap(c)) / w == bigN) cap(c)
          else math.min(cap(c), (w * bigN) / toks(c).toDouble)
        val full = math.floor(u).toLong
        c -> ((full, u - full))
      }
      rows.flatMap { case (k, c, _) =>
        plan.get(c).toSeq.flatMap { case (full, frac) =>
          val nEp = full + (if (frac > 0.0) 1L else 0L)
          (0L until nEp)
            .filter(e => e < full || digest4(k, 42L + e) < cutHex(frac))
            .map(e => (k, c, e))
        }
      }.toSet
    }
    val rnd = new Random(77)
    for (trial <- 1 to 15) {
      val classes = (0 until 2 + rnd.nextInt(3)).map(i => s"c$i")
      val rows = classes.zipWithIndex.flatMap { case (c, ci) =>
        (0 until 5 + rnd.nextInt(40)).map(j =>
          ((ci * 100000 + j).toLong, c, (1 + rnd.nextInt(50)).toLong))
      }
      // weight/cap only a SUBSET sometimes (unlisted target classes use
      // the default cap; classes outside targets drop entirely)
      val targets = classes.filter(_ => rnd.nextInt(4) > 0)
        .map(c => c -> (0.5 + rnd.nextInt(10) * 0.5)).toMap
      if (targets.nonEmpty) {
        val caps = classes.filter(_ => rnd.nextBoolean())
          .map(c => c -> (0.5 + rnd.nextInt(6) * 0.5)).toMap
        val got = Sampling.tokenMixtureSample(
            rows.toDF("doc_id", "cls", "n_tok"), "cls", "doc_id", "n_tok",
            targets, caps)
          .select("doc_id", "cls", "epoch")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .toSet
        assert(got == expected(rows, targets, caps, 1.0, 42L),
          s"trial $trial diverged (targets=$targets caps=$caps)")
      }
    }
  }

  test("negativeSamples: deterministic, self-excluded, k per anchor") {
    import spark.implicits._
    val corpus = (0L until 200L).toDF("id")
    val anchors = (0L until 10L).toDF("id")
    def run(c: org.apache.spark.sql.DataFrame) =
      Sampling.negativeSamples(c, anchors, "id", k = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
        .sorted
    val got = run(corpus)
    // every anchor gets exactly k negatives, ranks 1..k, none itself
    assert(got.size == 40)
    got.groupBy(_._1).foreach { case (a, ns) =>
      assert(ns.map(_._2).sorted == Seq(1, 2, 3, 4))
      assert(ns.forall(_._3 != a), s"anchor $a sampled itself")
      assert(ns.forall(n => n._3 >= 0L && n._3 < 200L))
    }
    // bit-identical under a different physical partitioning
    assert(run(corpus.repartition(13)) == got)
    // negatives are spread, not clustered at low indices (the shuffle
    // order is the point): more than half the distinct negatives > 100
    val negs = got.map(_._3).distinct
    assert(negs.count(_ > 100L) > negs.size / 4)
    // degenerate corpus refuses
    val e = intercept[IllegalArgumentException] {
      Sampling.negativeSamples((0L until 1L).toDF("id"), anchors, "id", 2)
    }
    assert(e.getMessage.contains("two distinct"))
  }
}
