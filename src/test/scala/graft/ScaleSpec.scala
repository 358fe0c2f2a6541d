package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{functions => F}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Dedup, Pack, Scale, Similarity, TextAnalysis}

/** Scale-behavior specs: partition invariance, salting equivalence,
  * bucketed-join shuffle elimination, and scalacheck properties over the
  * operator algebra (the property-test layer SURVEY §5 plans; seeded
  * generators, no forAll bridge — scalatestplus is not in the offline
  * dependency set). */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](gen: Gen[T], n: Int): Seq[T] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("aggregation results are partition-invariant (integral sums)") {
    val base = (1 to 5000).map(i => (i % 7, (i % 50).toDouble)).toDF("k", "v")
    def run(parts: Int) =
      base.repartition(parts).groupBy("k").agg(F.sum("v").as("s"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(run(1) == run(32))
  }

  test("salted aggregation equals direct aggregation") {
    val skewed = ((1 to 9000).map(_ => ("hot", 1.0)) ++
      (1 to 1000).map(i => (s"k${i % 13}", 2.0))).toDF("k", "v")
    val direct = skewed.groupBy("k")
      .agg(F.sum("v").as("sum_v"), F.count(F.lit(1)).as("count_v"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val salted = Scale.saltedAgg(skewed, Seq("k"), Seq("v" -> "sum", "v" -> "count"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == direct)
  }

  test("bucketed tables join without an exchange (co-located join)") {
    // explicit-path external tables: writeBucketed drops stale catalog
    // entries itself, and the temp dir never collides across runs
    val staging = java.nio.file.Files.createTempDirectory("graft_bucket_spec")
    Scale.writeBucketed(
      (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("id", "name"),
      "b_left", s"$staging/b_left", "id", 8, sortCols = Seq("id"))
    Scale.writeBucketed(
      (1 to 1000).filter(_ % 3 == 0).map(i => (i.toLong, i * 2.0)).toDF("id", "score"),
      "b_right", s"$staging/b_right", "id", 8, sortCols = Seq("id"))
    // small tables would broadcast, bypassing buckets; disable to show the
    // co-located sort-merge path a 100 TB fact-fact join would take
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_left").join(spark.table("b_right"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(joined.count() == 333)
      // groupBy on the bucket key is exchange-free too (q113's agg shape)
      val agg = spark.table("b_left").groupBy("id").agg(F.count(F.lit(1)).as("n"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q113 probe shape: bucketed agg+filter+join is shuffle-free " +
    "and REP-STABLE — AQE converges to the same physical shape every " +
    "execution (the bench probe's band must be noise, never re-plans)") {
    // the serving shape q113's bucketed layout exists to buy (agg +
    // filter + join over pre-bucketed tables), over small synthetic
    // tables: if it ever re-plans across executions (strategy flip,
    // shuffle appearing), a timed run of it stops measuring the engine
    // and this pins the cause
    val staging = java.nio.file.Files.createTempDirectory("graft_q113_spec")
    Scale.writeBucketed(
      (1 to 5000).map(i => (i.toLong % 400, i * 7.0)).toDF(
        "o_custkey", "o_totalprice"),
      "q113s_orders", s"$staging/orders_b", "o_custkey", 8)
    Scale.writeBucketed(
      (0L until 400L).map(i => (i, s"seg${i % 5}")).toDF(
        "c_custkey", "c_mktsegment"),
      "q113s_customer", s"$staging/customer_b", "c_custkey", 8)
    def run(): (Long, Int, String) = {
      val df = spark.table("q113s_orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).as("spend"),
             F.count(F.lit(1)).as("n_orders"))
        .filter(F.col("spend") > 20000)
        .join(spark.table("q113s_customer"),
          F.col("o_custkey") === F.col("c_custkey"))
        .select("o_custkey", "c_mktsegment", "spend", "n_orders")
      val n = df.count()
      val plan = df.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r
        .findAllMatchIn(plan).length
      val join = Seq("SortMergeJoin", "BroadcastHashJoin",
        "ShuffledHashJoin").find(plan.contains).getOrElse("?")
      (n, shuffles, join)
    }
    val reps = (1 to 3).map(_ => run())
    // the bucket layout satisfies BOTH the agg and the join: zero
    // shuffle exchanges, every execution
    reps.foreach { case (n, shuffles, join) =>
      assert(n > 0)
      assert(shuffles == 0,
        s"q113 shape must not shuffle (bucketed both sides): $reps")
    }
    assert(reps.map(_._3).distinct.length == 1,
      s"join strategy flipped across executions: $reps")
    assert(reps.map(_._1).distinct.length == 1)
  }

  test("hash-based stratified sample is deterministic and partition-invariant") {
    val docs = (0L until 1000L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("id", "lang")
    val rate = F.when(F.col("lang") === "en", 50).otherwise(10)
    def run(parts: Int) =
      Scale.stratifiedSampleByHash(docs.repartition(parts), F.col("id"), rate)
        .collect().map(_.getLong(0)).toSet
    val a = run(1)
    assert(a == run(32)) // a row's fate never depends on partitioning
    // rates are approximately honored per stratum
    val en = a.count(_ % 3 == 0).toDouble / (1000 / 3)
    assert(en > 0.35 && en < 0.65, s"en keep-rate ~0.5, got $en")
  }

  test("salted join equals the plain join on skewed keys") {
    val left = ((1 to 5000).map(i => (1L, i)) ++           // hot key 1
      (1 to 500).map(i => ((i % 7 + 2).toLong, i))).toDF("k", "payload")
    val right = (1L to 8L).map(k => (k, s"r$k")).toDF("rk", "name")
    val plain = left.join(right, left("k") === right("rk"))
      .groupBy("name").agg(F.count(F.lit(1)).as("n"), F.sum("payload").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val salted = Scale.saltedJoin(left, right, "k", "rk",
        F.hash(F.col("k"), F.col("payload")), salts = 8)
      .groupBy("name").agg(F.count(F.lit(1)).as("n"), F.sum("payload").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("AQE splits the skewed partition of an unsalted shuffled join") {
    // pins the q44_x10_skewed_unsalted bench probe's plan: one hot key
    // owning ~50% of rows through a sort-merge join with AQE skew
    // handling enabled and thresholds sized to the data — the executed
    // plan must carry the skew=true marker (the hot partition was
    // split), and results must equal the salted twin's
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = ((1 to 60000).map(i => (0L, i.toLong)) ++   // hot key 0
        (1 to 6000).map(i => ((i % 200 + 1).toLong, i.toLong)))
        .toDF("user_id", "value")
      val dim = (0L to 200L).map(k => (k, k % 10)).toDF("d_user_id", "segment")
      val joined = left
        .join(dim.hint("merge"), F.col("user_id") === F.col("d_user_id"))
        .groupBy("segment").agg(F.sum("value").as("v"), F.count(F.lit(1)).as("n"))
      val rows = joined.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have split the hot partition:\n$plan")
      // semantic cross-check against the salted twin
      val salted = Scale.saltedJoin(left, dim, "user_id", "d_user_id",
          F.hash(F.col("value")), salts = 8)
        .groupBy("segment").agg(F.sum("value").as("v"), F.count(F.lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(salted == rows)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("partitioned corpus layout prunes non-matching lang directories") {
    val docs = Seq(
      (0L, "the quick brown fox", "en"), (1L, "der schnelle fuchs", "de"),
      (2L, "another english doc", "en"), (3L, "le renard rapide", "fr")
    ).toDF("doc_id", "text", "lang")
    val path = java.nio.file.Files.createTempDirectory("graft-corpus").toString + "/docs"
    graft.sources.Tables.writePartitioned(docs, Seq("lang"), path)
    val en = spark.read.parquet(path).filter(F.col("lang") === "en")
      .select("doc_id")
    assert(en.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L))
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"lang filter should prune at the partition level:\n$plan")
  }

  test("property: filter output is a subset of input") {
    samples(Gen.listOfN(50, Gen.chooseNum(-100, 100)), 5).foreach { xs =>
      val df = xs.toDF("x")
      val out = df.filter(F.col("x") > 0).collect().map(_.getInt(0))
      assert(out.forall(_ > 0))
      assert(out.length <= xs.length)
    }
  }

  test("property: jaccard is symmetric, bounded, and 1 on self") {
    val gen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e", "f"))
    samples(Gen.zip(gen, gen), 5).foreach { case (xs, ys) =>
      val df = Seq((xs.distinct, ys.distinct)).toDF("x", "y")
      val r = df.select(
        Dedup.jaccard(F.col("x"), F.col("y")),
        Dedup.jaccard(F.col("y"), F.col("x")),
        Dedup.jaccard(F.col("x"), F.col("x"))).head()
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(2) == 1.0)
    }
  }

  test("LSH bucket cap bounds candidate generation under a mega-bucket corpus") {
    // 120 copies of the same boilerplate form one mega-bucket in every
    // band; with maxBucket=16 the cap drops it (quadratic candidate
    // explosion capped by design), while a small 2-doc near-dup cluster
    // still surfaces. This is the behavior that keeps LSH dedup from
    // going O(n²) on boilerplate at corpus scale.
    val boiler = (0 until 120).map(i =>
      (i.toLong, "terms of service apply to all users of this site"))
    val pair = Seq(
      (500L, "a genuinely unique document about spark shuffles"),
      (501L, "a genuinely unique document about spark shuffles"))
    val docs = (boiler ++ pair).toDF("doc_id", "text")

    val minhash = Dedup.minhashLsh(docs, "text", "doc_id",
      numBands = 4, rowsPerBand = 4, shingleN = 1, threshold = 0.8,
      maxBucket = 16).collect()
    val mhPairs = minhash.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhPairs == Set((500L, 501L))) // mega-bucket capped away, pair kept

    val simhash = Dedup.simhashPairs(docs, "text", "doc_id",
      maxHamming = 3, maxBucket = 16).collect()
    val shPairs = simhash.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shPairs == Set((500L, 501L)))

    // uncapped, the boilerplate cluster alone would emit C(120,2) = 7140
    // pairs; the capped runs emitted exactly one
    assert(minhash.length + simhash.length == 2)
  }

  test("ngram Jaccard block cap drops a mega-block (quadratic bounded by design)") {
    // 120 copies of the same boilerplate share one block; with
    // maxBlock=16 the cap drops it (C(120,2)=7140 comparisons avoided),
    // while the 2-doc block still pairs — the same by-construction bound
    // every LSH variant has, now on the brute-force blocked path too
    val boiler = (0 until 120).map(i =>
      (i.toLong, "terms of service apply to all users of this site"))
    val pair = Seq(
      (500L, "a genuinely unique document about spark shuffles"),
      (501L, "a genuinely unique document about spark shuffles"))
    val docs = (boiler ++ pair).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      graft.operators.TextAnalysis.tokenCount(F.col("text")).cast("string"),
      shingleN = 1, threshold = 0.5, maxBlock = 16).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((500L, 501L)))
  }

  test("clusters converge on a 100-vertex path graph (both execution paths)") {
    // worst-case diameter for label propagation: a pure chain. Plain
    // one-hop propagation needs ~99 rounds; the label(label(v)) term
    // collapses it in O(log n) — well under maxIter, no silent cutoff.
    // localThreshold = 0 forces the DISTRIBUTED propagation; the default
    // takes the size-capped union-find path — both must agree exactly
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val dist = Dedup.clusters(pairs, localThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist.size == 100)
    assert(dist.values.forall(_ == 0L), "every vertex labels to the chain minimum")
    assert(local == dist)
  }

  test("embedding LSH cap drops a mega-bucket of identical vectors") {
    val mega = (0 until 60).map(i => (i.toLong, Seq(1.0f, 0.0f, 0.0f)))
    val pair = Seq((500L, Seq(-1.0f, 0.05f, 0.0f)), (501L, Seq(-1.0f, 0.06f, 0.0f)))
    val vecs = (mega ++ pair).toDF("vec_id", "embedding")
    val planes = Dedup.hyperplanes(numPlanes = 6, dim = 3)
    val out = Dedup.embeddingNearDup(vecs, "embedding", "vec_id",
      planes, threshold = 0.9, maxBucket = 16).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((500L, 501L)))
  }

  test("pack concat-and-chunk: sharded prefix sum equals the naive global cumsum") {
    // non-contiguous, non-zero-based ids with an empty doc in the middle;
    // tiny shardSpan forces many shards so the two-level path really runs
    val docs = Seq((3L, 100L), (7L, 2000L), (8L, 0L), (21L, 500L),
      (22L, 1024L), (40L, 1L), (99L, 3000L))
      .toDF("doc_id", "n_tok")
    val out = Pack.concatChunk(docs, "doc_id", "n_tok",
        capacity = 1024, shardSpan = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // naive single-pass expectation
    var pos = 0L
    val want = Seq((3L, 100L), (7L, 2000L), (8L, 0L), (21L, 500L),
      (22L, 1024L), (40L, 1L), (99L, 3000L)).map { case (id, tok) =>
      val start = pos
      pos += tok
      val last = math.max(pos - 1, start) / 1024
      id -> ((start, start / 1024, last, start % 1024))
    }.toMap
    assert(out == want)
    // a 2000-token doc starting at 100 spans chunks 0..2
    assert(out(7L) == ((100L, 0L, 2L, 100L)))
    // non-integral order keys fail loudly instead of mis-sharding
    assertThrows[IllegalArgumentException] {
      Pack.concatChunk(Seq(("a", 1L)).toDF("doc_id", "n_tok"),
        "doc_id", "n_tok", capacity = 16)
    }
    // duplicate order keys raise at execution instead of silently
    // overlapping packed positions
    val ex = intercept[Exception] {
      Pack.concatChunk(Seq((1L, 5L), (1L, 7L)).toDF("doc_id", "n_tok"),
        "doc_id", "n_tok", capacity = 16).collect()
    }
    assert(ex.getMessage != null || ex.getCause != null)
  }

  test("next-fit pack keeps documents whole and matches the naive fold") {
    // one shard → global id order; budget 10; counts chosen to exercise
    // exact-fit (4+6), overflow (7 after 6), and an oversized doc (25)
    val docs = Seq((1L, "a " * 4), (2L, "b " * 6), (3L, "c " * 7),
      (4L, "d " * 25), (5L, "e " * 2), (6L, "f " * 9))
      .toDF("doc_id", "text")
    val out = Pack.nextFitPack(docs, "doc_id",
        TextAnalysis.tokenCount(F.col("text")), budget = 10, numShards = 1)
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    // naive walk: 4+6=10 fit bin 0; 7 opens bin 1; 25 > budget opens
    // bin 2 alone; 2 opens bin 3 (7+25 already overflowed… acc=25>0 and
    // 25+2>10); 9 opens bin 4 (2+9>10)
    assert(out == Map(1L -> ((0, 4L)), 2L -> ((0, 6L)), 3L -> ((1, 7L)),
      4L -> ((2, 25L)), 5L -> ((3, 2L)), 6L -> ((4, 9L))))
    // sharded run: bins are per-shard, every doc appears exactly once,
    // and no bin exceeds budget unless it holds a single oversized doc
    val many = (0L until 200L).map(i => (i, "w " * (1 + (i % 13)).toInt))
      .toDF("doc_id", "text")
    val packed = Pack.nextFitPack(many, "doc_id",
      TextAnalysis.tokenCount(F.col("text")), budget = 16, numShards = 8)
      .collect()
    assert(packed.map(_.getLong(0)).toSet == (0L until 200L).toSet)
    val fills = packed.groupBy(r => (r.getInt(1), r.getInt(2)))
      .view.mapValues(_.map(_.getLong(3)).sum)
    assert(fills.values.forall(_ <= 16L)) // no oversized docs in this set
    // the fold is the codegen'd native expression, not an O(n²) HOF chain
    assert(spark.catalog.functionExists("next_fit_bins"))
  }

  test("property: packer invariants — coverage, budget, contiguity, FFD ≤ NF") {
    val gen = Gen.listOfN(60, Gen.chooseNum(1, 24))
    samples(gen, 5).foreach { toks =>
      val docs = toks.zipWithIndex
        .map { case (t, i) => (i.toLong, "w " * t) }.toDF("doc_id", "text")
      val budget = 16
      def check(packed: Array[org.apache.spark.sql.Row]): Unit = {
        // every doc exactly once, with its true token count
        assert(packed.map(_.getLong(0)).sorted.toSeq == toks.indices.map(_.toLong))
        packed.foreach(r => assert(r.getLong(3) == toks(r.getLong(0).toInt)))
        val byBin = packed.groupBy(r => (r.getInt(1), r.getInt(2)))
        // a bin over budget holds exactly one (oversized, >budget) doc
        byBin.values.foreach { b =>
          val s = b.map(_.getLong(3)).sum
          assert(s <= budget || (b.length == 1 && b.head.getLong(3) > budget))
        }
        // bins are contiguous 0..max within each shard
        packed.groupBy(_.getInt(1)).values.foreach { sh =>
          val bins = sh.map(_.getInt(2)).toSet
          assert(bins == (0 to bins.max).toSet)
        }
      }
      val nf = Pack.nextFitPack(docs, "doc_id",
        TextAnalysis.tokenCount(F.col("text")), budget, numShards = 4).collect()
      val ffd = Pack.ffdPack(docs, "doc_id",
        TextAnalysis.tokenCount(F.col("text")), budget, numShards = 4).collect()
      check(nf); check(ffd)
      // exact equality with naive single-threaded folds per shard
      val shardOf = nf.map(r => r.getLong(0) -> r.getInt(1)).toMap
      shardOf.values.toSet[Int].foreach { sh =>
        val ids = shardOf.collect { case (id, s) if s == sh => id }.toSeq.sorted
        // next-fit in id order
        var (bin, acc) = (0, 0L)
        val wantNf = ids.map { id =>
          val t = toks(id.toInt).toLong
          if (acc > 0 && acc + t > budget) { bin += 1; acc = t } else acc += t
          id -> bin
        }.toMap
        assert(nf.filter(_.getInt(1) == sh)
          .map(r => r.getLong(0) -> r.getInt(2)).toMap == wantNf)
        // FFD largest-first, first fitting bin
        val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        val wantFfd = ids.sortBy(id => (-toks(id.toInt), id)).map { id =>
          val t = toks(id.toInt).toLong
          val b = fills.indexWhere(_ + t <= budget) match {
            case -1 => fills += t; fills.length - 1
            case i  => fills(i) += t; i
          }
          id -> b
        }.toMap
        assert(ffd.filter(_.getInt(1) == sh)
          .map(r => r.getLong(0) -> r.getInt(2)).toMap == wantFfd)
      }
    }
  }

  test("FFD pack places largest-first into the first fitting bin") {
    // budget 10, counts 7,6,5,4,3,2: FFD → bins [7,3],[6,4],[5,2]*;
    // actually 7+3=10, 6+4=10, 5+2=7 → 3 bins. Next-fit on id order
    // (counts 4,6,7,3,5,2 say) would fragment more.
    val docs = Seq((1L, "w " * 7), (2L, "w " * 6), (3L, "w " * 5),
      (4L, "w " * 4), (5L, "w " * 3), (6L, "w " * 2))
      .toDF("doc_id", "text")
    val out = Pack.ffdPack(docs, "doc_id",
        TextAnalysis.tokenCount(F.col("text")), budget = 10, numShards = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // descending walk: 7→bin0; 6→bin1; 5→bin2; 4 fits bin1 (6+4=10);
    // 3 fits bin0 (7+3=10); 2 fits bin2 (5+2=7)
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 0, 6L -> 2))
    // FFD never uses more bins than next-fit on the same corpus
    val many = (0L until 300L).map(i => (i, "w " * (1 + (i * 7 % 13)).toInt))
      .toDF("doc_id", "text")
    def binCount(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("shard").agg(F.max("bin").as("mb")).collect()
      .map(_.getInt(1) + 1).sum
    val ffd = binCount(Pack.ffdPack(many, "doc_id",
      TextAnalysis.tokenCount(F.col("text")), budget = 16, numShards = 4))
    val nf = binCount(Pack.nextFitPack(many, "doc_id",
      TextAnalysis.tokenCount(F.col("text")), budget = 16, numShards = 4))
    assert(ffd <= nf, s"FFD used $ffd bins, next-fit $nf")
    // the native fold REJECTS unsorted input instead of silently
    // losing the decreasing-order guarantee
    val e = intercept[Exception] {
      spark.sql("SELECT ffd_bins(array(3L, 9L), 10)").collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("sorted descending")))
  }

  test("hash split is disjoint, exhaustive, and rerun-stable") {
    val ids = (0L until 1000L).toDF("id")
    val a = Scale.hashSplit(ids, F.col("id")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Scale.hashSplit(ids.repartition(7), F.col("id")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b) // partition-invariant
    assert(a.size == 1000 && a.values.toSet == Set("train", "validation", "test"))
    val n = a.values.groupBy(identity).view.mapValues(_.size).toMap
    // md5 buckets are near-uniform: 80/10/10 ± a loose tolerance
    assert(math.abs(n("train") - 800) < 80, n.toString)
    assert(math.abs(n("validation") - 100) < 50, n.toString)
  }

  test("leakage-free split: near-duplicates always land on the same side") {
    import graft.operators.Dedup
    // two exact-duplicate groups + singletons; the per-DOC split would be
    // free to separate dup pairs, the per-CLUSTER split must not
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "one two three four five six seven eight nine"),
      (4L, "completely unrelated content lives here apart")
    ).toDF("doc_id", "text")
    val clusters = Dedup.clusters(
        Dedup.minhashLsh(docs, "text", "doc_id", numBands = 4,
          rowsPerBand = 8, shingleN = 1, threshold = 0.8, maxBucket = 64))
      .select(F.col("id").as("doc_id"), F.col("cluster"))
    val assigned = docs.select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", F.coalesce(F.col("cluster"), F.col("doc_id")))
    val split = Scale.hashSplit(assigned, F.col("cluster"))
      .select("doc_id", "cluster", "split")
    // the cluster map is O(duplicated docs) — a FORCED broadcast of it
    // OOMs the driver on a duplicate-heavy corpus; the plan must carry
    // no broadcast hint (AQE broadcasts genuinely small sides itself)
    val hints = split.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"unexpected broadcast hint in plan: $hints")
    val out = split.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length == 5) // every doc assigned exactly once
    val byCluster = out.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byCluster.values.forall(_.size == 1)) // one side per cluster
    // the dup pairs share a cluster (and therefore a side)
    val side = out.map(t => t._1 -> t._3).toMap
    assert(side(0L) == side(1L) && side(2L) == side(3L))
  }

  test("sampleToMixture: partition-invariant, budget-tracking, caps at full source") {
    // two sources of identical per-doc quality: the α=2 tilt sends
    // nearly all weight to the 100-doc source
    val docs = ((1 to 100).map(i => (i.toLong, "big",
        "the quick brown fox jumps over the lazy dog")) ++
      (101 to 110).map(i => (i.toLong, "small",
        "the quick brown fox jumps over the lazy dog")))
      .toDF("doc_id", "source", "text")
    def ids(d: org.apache.spark.sql.DataFrame, budget: Long) =
      Scale.sampleToMixture(d, "text", "source", F.col("doc_id"), budget)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = ids(docs, 50)
    // deterministic and partition-invariant (hash key, never rand())
    assert(ids(docs.repartition(7), 50) == kept)
    // tracks the budget: ~0.99 weight on 'big' → rate ~0.5 there
    assert(kept.size > 25 && kept.size < 75, s"kept=${kept.size}")
    // a budget >= the corpus keeps every document (rates cap at 1)
    assert(ids(docs, 10000).size == 110)
  }

  test("histogram sketches: shard merge equals whole-corpus quantiles") {
    val d = java.nio.file.Files.createTempDirectory("graft-hist-spec").toString
    val docs = (1 to 300).map(i => (i.toLong, if (i % 2 == 0) "a" else "b",
      (i * 7 % 250).toLong)).toDF("id", "g", "len")
    // three shards persist independently...
    (0 until 3).foreach(i =>
      Scale.writeHistogramSketches(docs.filter(F.col("id") % 3 === i),
        Seq("g"), F.col("len"), s"$d/s$i", width = 16))
    val merged = Scale.mergedQuantiles(spark, s"$d/s*", Seq("g"),
        probs = Seq(0.5), width = 16)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    // ...and must merge to exactly the single-pass sketch of the whole
    Scale.writeHistogramSketches(docs, Seq("g"), F.col("len"), s"$d/whole",
      width = 16)
    val whole = Scale.mergedQuantiles(spark, s"$d/whole", Seq("g"),
        probs = Seq(0.5), width = 16)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(merged == whole)
    // the estimate is an upper bound of the true median at bucket
    // resolution: true p50 <= q_est < true p50 + 2*width
    for ((g, _, est) <- merged) {
      val vals = docs.filter(F.col("g") === g).select("len")
        .collect().map(_.getLong(0)).sorted
      val p50 = vals((vals.length - 1) / 2)
      assert(est >= p50 && est <= p50 + 2 * 16, s"g=$g est=$est p50=$p50")
    }
    // degenerate probabilities rejected loudly
    assertThrows[IllegalArgumentException](
      Scale.mergedQuantiles(spark, s"$d/whole", Seq("g"), probs = Seq(0.0)))
  }

  test("range buckets: contiguous cutpoints, near-even sizes, rerun-stable") {
    val df = (1 to 1000).map(i => (i.toLong, (i * 7919 % 1000).toDouble / 3.0))
      .toDF("id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Scale.rangeBuckets(d, F.col("v"), 4).select("id", "v", "bucket")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val a = run(df)
    assert(a.map(_._3).toSet.subsetOf(Set(0, 1, 2, 3)))
    // contiguity: every bucket's max is <= the next bucket's min
    val byB = a.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    for (b <- 0 until 3 if byB.contains(b) && byB.contains(b + 1))
      assert(byB(b).max <= byB(b + 1).min)
    // exact quantile cutpoints give near-even occupancy (ties aside)
    byB.values.foreach(vs => assert(math.abs(vs.size - 250) < 60, byB.view.mapValues(_.size).toMap))
    // deterministic across partitioning, unlike repartitionByRange
    assert(run(df.repartition(7)).sortBy(_._1).toSeq == a.sortBy(_._1).toSeq)
  }

  test("PII redaction scrubs emails/phones/IPs and counts hits") {
    val df = Seq(
      (1L, "write bob.smith+x@corp.example.org or call 555-123-4567"),
      (2L, "server at 192.168.1.100 responded"),
      (3L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.redactPii(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == (("write <EMAIL> or call <PHONE>", 1L, 1L, 0L)))
    assert(out(2L) == (("server at <IP> responded", 0L, 0L, 1L)))
    assert(out(3L) == (("no pii here at all", 0L, 0L, 0L)))
  }

  test("z-order key interleaves bits; z-ordered layout tightens per-file 2-D spans") {
    // known value: x=3 (011), y=5 (101) -> bits 0,1,2,5 -> 39
    val k = Seq((3L, 5L)).toDF("x", "y")
      .select(Scale.zOrderKey(F.col("x"), F.col("y"), 8)).head().getLong(0)
    assert(k == 39L)

    // 32x32 grid shuffled: after writeZOrdered each file should cover a
    // small rectangle of the grid, not the full range in each dimension
    val rnd = new scala.util.Random(7)
    val pts = rnd.shuffle((0L until 32L).flatMap(x => (0L until 32L).map(y => (x, y))))
      .toDF("x", "y").repartition(8)
    val dir = java.nio.file.Files.createTempDirectory("graft-z").toString
    Scale.writeZOrdered(pts, "x", "y", s"$dir/z", bits = 8, partitions = 16)
    val spans = spark.read.parquet(s"$dir/z")
      .groupBy(F.input_file_name().as("f"))
      .agg((F.max("x") - F.min("x")).as("dx"), (F.max("y") - F.min("y")).as("dy"))
      .collect()
    val avgSpan = spans.map(r => (r.getLong(1) + r.getLong(2)) / 2.0).sum / spans.length
    // random layout would average ~31 per dimension; z-order files sit in
    // tight quadrants (a 16-file split of a 32x32 grid covers 8x16 boxes)
    assert(spans.length >= 8, s"expected multiple files, got ${spans.length}")
    assert(avgSpan <= 16.0, s"z-ordered files span too much: $avgSpan")
  }

  test("sliding chunks: window/stride windows stay inside the document") {
    val d = Seq((7L, "t1 t2 t3 t4 t5"), (8L, "solo"), (9L, "  "))
      .toDF("doc_id", "text")
    val out = Pack.slidingChunks(d, "text", "doc_id", window = 3, stride = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(out == Set(
      (7L, 0L, "t1 t2 t3", 3L),
      (7L, 2L, "t3 t4 t5", 3L),
      (7L, 4L, "t5", 1L), // tail chunk truncates, never crosses the doc
      (8L, 0L, "solo", 1L))) // whitespace-only doc 9 yields no chunks
  }

  test("temperature sampling: keep-rate ∝ 1/sqrt(stratum size), replayable") {
    val d = ((1L to 400L).map(i => (i, "big")) ++
             (401L to 425L).map(i => (i, "small")))
      .toDF("doc_id", "source")
    val out = Scale.temperatureSample(d, "source", F.col("doc_id"), k = 4.0)
    // exact replay of the documented threshold: floor(1e6·min(1, k/√c))
    val expected = d.collect().map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, src) =>
        val c = if (src == "big") 400.0 else 25.0
        val thresh = math.floor(1000000.0 * math.min(1.0, 4.0 / math.sqrt(c)))
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        java.lang.Long.parseLong(hex, 16) % 1000000 < thresh
      }.toSet
    val got = out.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"))).toSet
    assert(got == expected)
    // the flattening direction: big kept at ~20%, small at ~80%
    val keptBig = got.count(_._2 == "big") / 400.0
    val keptSmall = got.count(_._2 == "small") / 25.0
    assert(keptBig < 0.3 && keptSmall > 0.6,
      s"big=$keptBig small=$keptSmall")
    // rerun-stable (hash, not rand())
    assert(got == Scale.temperatureSample(d, "source", F.col("doc_id"), k = 4.0)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"))).toSet)
  }

  test("shuffle rank equals the global hash order for any bucket count") {
    val d = (1L to 500L).toDF("id")
    def ranks(buckets: Int): Map[Long, Long] =
      Scale.shuffleRank(d, F.col("id"), buckets)
        .select("id", "shuffle_rank").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = ranks(16)
    // the naive spec: one global sort by (md5-hash, id)
    val expected = d
      .withColumn("_h", Dedup.md5Hash60(F.col("id").cast("string")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, h) => (h, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    assert(got == expected)
    // bucket count is an implementation detail, not a semantic knob
    assert(ranks(7) == got)
    assert(ranks(1) == got)
  }

  test("native cdc_bounds matches the composable boundary rule exactly") {
    // native path is active in the shared session; compute the composable
    // ends directly and compare, over docs exercising the edge cases:
    // short (n < k), boundary coinciding with end-of-doc, unicode tokens
    val docs = Seq(
      (1L, (1 to 300).map(i => s"tok${(i * 7919) % 101}").mkString(" ")),
      (2L, "a b"), // n < k → single forced end
      (3L, "汉字 токены mixed ünïcode tokens here and more of them now"),
      (4L, (1 to 50).map(i => s"x$i").mkString(" "))
    ).toDF("doc_id", "text")
    assert(spark.catalog.functionExists("cdc_bounds"))
    val toks = graft.operators.TextAnalysis.tokens(F.col("text"))
    val composable = graft.functions.ExprUtils.let(toks) { tk =>
      graft.functions.ExprUtils.let(F.size(tk)) { n =>
        F.array_union(
          F.when(n >= 3,
            F.filter(F.sequence(F.lit(3), n), (i: org.apache.spark.sql.Column) =>
              Dedup.md5Hash60(F.array_join(
                F.slice(tk, i - 2, F.lit(3)), " ")) % 16 === 0))
            .otherwise(F.array().cast("array<int>")),
          F.array(n))
      }
    }
    val both = docs.select(
        F.call_function("cdc_bounds", toks, F.lit(3), F.lit(16)).as("n"),
        composable.as("c"))
      .collect()
    both.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1)))
  }

  test("CDC chunks reconstruct the stream and realign after an edit") {
    // two documents sharing a long common suffix behind different prefixes
    val common = (1 to 200).map(i => s"w${(i * 37) % 91}").mkString(" ")
    val d = Seq((1L, s"alpha beta $common"),
                (2L, s"gamma delta epsilon zeta $common"),
                (3L, "tiny")).toDF("doc_id", "text")
    val out = Pack.cdcChunks(d, "text", "doc_id", k = 3, modulus = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getString(4)))
    val byDoc = out.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // chunks tile the token stream exactly: starts/lengths chain and the
    // concatenation reproduces the original text
    for ((id, text) <- Seq((1L, s"alpha beta $common"),
                           (2L, s"gamma delta epsilon zeta $common"))) {
      val cs = byDoc(id)
      assert(cs.head._3 == 0L)
      cs.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(1)._3 == w(0)._3 + w(0)._4)
      }
      assert(cs.map(_._5).mkString(" ") == text)
      assert(cs.forall(_._4 > 0))
    }
    // content-defined: despite different-length prefixes, the two docs
    // share realigned chunks over the common suffix (offset-based
    // chunking like slidingChunks would share none)
    val shared = byDoc(1L).map(_._5).toSet intersect byDoc(2L).map(_._5).toSet
    assert(shared.size >= 3, s"expected realigned common chunks, got $shared")
    // a doc shorter than k gets one whole-document chunk
    assert(byDoc(3L).toSeq == Seq((3L, 0L, 0L, 1L, "tiny")))
  }

  test("property: CDC chunks tile arbitrary documents with valid boundaries") {
    val vocab = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val docGen = Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, vocab))
    val docs = samples(docGen, 8).zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    val out = Pack.cdcChunks(df, "text", "doc_id", k = 3, modulus = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getString(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    docs.foreach { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) assert(!out.contains(id)) // empty doc → no chunks
      else {
        val cs = out(id)
        // tiling: starts chain, lengths positive, concat reconstructs
        assert(cs.head._3 == 0L && cs.forall(_._4 > 0))
        cs.sliding(2).filter(_.length == 2).foreach(w =>
          assert(w(1)._3 == w(0)._3 + w(0)._4))
        assert(cs.map(_._5).mkString(" ") == toks.mkString(" "))
        // every INTERNAL boundary is content-defined (trailing-3-gram
        // hash ≡ 0 mod 4) and no interior position is a missed boundary
        val ends = cs.map(c => (c._3 + c._4).toInt)
        ends.init.foreach { e =>
          assert(e >= 3 && h60(toks.slice(e - 3, e).mkString(" ")) % 4 == 0,
            s"doc $id end $e is not a valid boundary")
        }
        val boundarySet = ends.init.toSet
        (3 to toks.length - 1).foreach { i =>
          val isB = h60(toks.slice(i - 3, i).mkString(" ")) % 4 == 0
          assert(boundarySet.contains(i) == isB,
            s"doc $id position $i boundary mismatch")
        }
      }
    }
  }

  test("property: repetition fraction bounded; constant doc scores 1.0") {
    val docGen = Gen.chooseNum(2, 40)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("x", "y", "z")))
    val docs = samples(docGen, 6).zipWithIndex
      .map { case (ts, i) => (i.toLong, ts.mkString(" ")) } :+
      (99L, Seq.fill(12)("w").mkString(" "))
    val out = docs.toDF("doc_id", "text")
      .select(F.col("doc_id"),
        graft.operators.TextAnalysis.topNgramFrac(F.col("text"), 2).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.values.forall(f => f >= 0.0 && f <= 1.0))
    assert(out(99L) == 1.0) // "w w ... w": every 2-gram identical
  }

  test("property: temperature sample is a stable subset, invariant to partitioning") {
    val d = (1L to 600L).map(i => (i, s"s${i % 5}")).toDF("doc_id", "source")
    def run(parts: Int): Set[Long] =
      Scale.temperatureSample(d.repartition(parts), "source",
          F.col("doc_id"), k = 3.0)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    val a = run(1)
    assert(a == run(32)) // partition-invariant
    assert(a.subsetOf((1L to 600L).toSet) && a.nonEmpty && a.size < 600)
  }

  test("property: hash embedding is bag-of-words (order-invariant, unit norm)") {
    val d = Seq((1L, "red green blue red"), (2L, "blue red red green"),
                (3L, "different tokens entirely here")).toDF("doc_id", "text")
    val out = d.select(F.col("doc_id"),
        graft.operators.TextAnalysis.hashEmbedding(F.col("text"), 16).as("e"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == out(2L)) // same bag, different order → same vector
    assert(out(1L) != out(3L))
    out.values.foreach { v =>
      val norm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-5)
    }
  }

  test("property: corpusDiff statuses partition the id space; self-diff is all-unchanged") {
    val texts = samples(Gen.listOfN(8, Gen.alphaNumStr), 40).flatten
    val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // self-diff: every id unchanged
    val self = Dedup.corpusDiff(base, base, "text", "doc_id")
      .collect().map(_.getString(1)).toSet
    assert(self == Set("unchanged"))
    // a mutated version: statuses cover ALL ids of both sides exactly once
    val newV = base.filter(F.col("doc_id") % 3 =!= 0)
      .select(F.col("doc_id"),
        F.when(F.col("doc_id") % 4 === 0, F.concat(F.col("text"), F.lit(" x")))
          .otherwise(F.col("text")).as("text"))
    val oldV = base.filter(F.col("doc_id") % 5 =!= 0)
    val out = Dedup.corpusDiff(oldV, newV, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(out.map(_._1).distinct.length == out.length) // one status per id
    val byStatus = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val oldIds = oldV.collect().map(_.getLong(0)).toSet
    val newIds = newV.collect().map(_.getLong(0)).toSet
    assert(byStatus.getOrElse("added", Set.empty) == newIds -- oldIds)
    assert(byStatus.getOrElse("removed", Set.empty) == oldIds -- newIds)
    assert(out.map(_._1).toSet == (oldIds ++ newIds))
  }

  test("property: PQ codes bounded by codebook size; ADC distances non-negative") {
    val dim = 8
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-1.0f, 1.0f))
    val vecs = samples(vecGen, 30).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val cbs: Seq[Seq[Seq[Double]]] = (0 until 2).map(s =>
      (0 until 4).map(c => (0 until 4).map(j =>
        ((s + 1) * (c + 1) * (j + 2) % 7) / 7.0 - 0.5).toSeq).toSeq)
    val codes = vecs
      .select(Similarity.pqCodes(F.col("embedding"), cbs).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(cs => cs.length == 2 && cs.forall(c => c >= 0 && c < 4)))
    val q = samples(vecGen, 1).head.map(_.toDouble)
    val top = Similarity.pqTopKAdc(vecs, "embedding", "vec_id", q, cbs, k = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.length == 30)
    assert(top.forall(_._2 >= 0.0))
    assert(top.map(_._2).sliding(2).forall(p => p(0) <= p(1))) // ascending
  }

  test("stored HLL sketches merge across shards to the union's estimate") {
    val d = java.nio.file.Files.createTempDirectory("graft-hll").toString
    // two "shards" of one logical corpus, overlapping values
    val df = (0L until 300L).map(i =>
      (if (i < 150) "shardA" else "shardB", "en", i % 120))
      .toDF("source", "lang", "v")
    Scale.writeDistinctSketches(df, Seq("lang", "source"), F.col("v"),
      s"$d/sk")
    // merged across shards: estimates the UNION's 120 distinct values,
    // not the 120+120 sum — the mergeability property
    val est = Scale.mergedDistinctEstimate(spark, s"$d/sk", Seq("lang"))
      .collect().head.getLong(1)
    assert(math.abs(est - 120L) <= 12, s"est=$est")
    // and equals (within HLL error) the single-pass sketch of everything
    val direct = df.agg(
      F.hll_sketch_estimate(F.hll_sketch_agg(F.col("v"))).as("e"))
      .collect().head.getLong(0)
    assert(est == direct)
  }

  test("sampleKPerGroup: exact k per stratum, window-equivalent, stable") {
    val df = (0L until 200L).map(i => (i, s"lang${i % 4}"))
      .toDF("doc_id", "lang")
    val out = Scale.sampleKPerGroup(df, "lang", F.col("doc_id"), k = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // exactly k from each of the 4 strata
    assert(out.length == 28)
    assert(out.groupBy(_._2).values.forall(_.length == 7))
    // the heap path must equal the window formulation (the oracle's
    // definition): top-7 by hash-as-double desc, id asc, per stratum
    import org.apache.spark.sql.expressions.Window
    val key = Dedup.md5Hash60(F.col("doc_id").cast("string")).cast("double")
    val w = Window.partitionBy("lang").orderBy(key.desc, F.col("doc_id").asc)
    val expected = df.withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= 7).select("doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSet == expected.toSet)
    // a stratum smaller than k returns whole-stratum, not a failure
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "lang")
    val t = Scale.sampleKPerGroup(tiny, "lang", F.col("doc_id"), k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(t == Set(1L, 2L, 3L))
    // deterministic across invocations (hash, never rand())
    val again = Scale.sampleKPerGroup(df, "lang", F.col("doc_id"), k = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.toSet == out.toSet)
  }

  test("sketch-store compaction: merged answer invariant, store shrinks") {
    val out = java.nio.file.Files.createTempDirectory("graft-hh-compact")
    try {
      val store = s"$out/store"
      // skewed corpus over a >k vocabulary so the weighted merge's
      // rescale path (subtract the (k+1)-th largest) actually runs
      val docs = ((1 to 400).map(i => (i.toLong, "alpha beta alpha")) ++
        (1 to 60).map(i => (400L + i, s"w${i % 40} beta")))
        .toDF("doc_id", "text")
      (0 until 4).foreach { i =>
        Scale.writeHeavyHitterSketches(
          docs.filter(F.col("doc_id") % 4 === i)
            .withColumn("_s", F.lit(i.toString)),
          "text", "_s", k = 8, s"$store/shard-$i")
      }
      def merged() = Scale.mergedHeavyHitters(docs, "text", spark,
          s"$store/shard-*", k = 8)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val before = merged()
      assert(before.keySet == Set("alpha", "beta")) // 800 + 460 of 1320
      Scale.compactHeavyHitterSketches(spark, store, k = 8)
      val segs = new java.io.File(store).listFiles()
        .filter(_.getName.startsWith("shard-"))
      assert(segs.length == 1 && segs.head.getName.startsWith("shard-compact-"))
      assert(merged() == before) // counts exact, set identical
      // the compacted summary respects the k bound
      assert(spark.read.parquet(segs.head.getPath).count() <= 8)
      // idempotent: a single segment is already compact (no-op)
      Scale.compactHeavyHitterSketches(spark, store, k = 8)
      assert(merged() == before)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("compaction crash re-run: leftover segment excluded, counters not doubled") {
    val out = java.nio.file.Files.createTempDirectory("graft-hh-crash")
    try {
      val store = s"$out/store"
      val docs = ((1 to 400).map(i => (i.toLong, "alpha beta alpha")) ++
        (1 to 60).map(i => (400L + i, s"w${i % 40} beta")))
        .toDF("doc_id", "text")
      def writeShards(): Unit = (0 until 4).foreach { i =>
        Scale.writeHeavyHitterSketches(
          docs.filter(F.col("doc_id") % 4 === i)
            .withColumn("_s", F.lit(i.toString)),
          "text", "_s", k = 8, s"$store/shard-$i")
      }
      def counters() = spark.read.parquet(s"$store/shard-*")
        .collect().map(r => r.getAs[String]("item") -> r.getAs[Long]("count"))
        .toMap
      writeShards()
      Scale.compactHeavyHitterSketches(spark, store, k = 8)
      val clean = counters()
      // simulate the crash window: compacted segment committed (with
      // its _covers.txt) but the sweep never ran — the covered shards
      // reappear next to the compact segment
      writeShards()
      assert(new java.io.File(store).listFiles()
        .count(_.getName.startsWith("shard-")) == 5)
      // the healing re-run must detect the leftover via its manifest,
      // exclude it from the sum, and land the SAME counters — without
      // the manifest every shared item would double
      Scale.compactHeavyHitterSketches(spark, store, k = 8)
      assert(counters() == clean)
      assert(new java.io.File(store).listFiles()
        .count(_.getName.startsWith("shard-")) == 1)
      // a post-compaction store that legitimately grew (manifest names
      // only swept shards) must INCLUDE the old segment: new batches
      // add, nothing is lost
      Scale.writeHeavyHitterSketches(
        docs.withColumn("_s", F.lit("late")), "text", "_s", k = 8,
        s"$store/shard-late")
      Scale.compactHeavyHitterSketches(spark, store, k = 8)
      val grown = counters()
      // alpha appears 800× in the original corpus; the late batch
      // re-adds the whole corpus, so its counter must grow past the
      // clean value (inclusion), roughly doubling net of MG rescale
      assert(grown("alpha") > clean("alpha"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("CMS compaction: estimates identical, distributed merge, crash re-run safe") {
    val out = java.nio.file.Files.createTempDirectory("graft-cms-compact")
    try {
      val store = s"$out/store"
      val docs = ((1 to 40).map(i => (i.toLong, "alpha beta", s"s${i % 4}")) ++
        (1 to 10).map(i => (100L + i, "alpha", s"s${i % 4}")))
        .toDF("doc_id", "text", "source")
      def writeShards(): Unit = (0 until 4).foreach { i =>
        Scale.writeCmsSketches(docs.filter(F.col("doc_id") % 4 === i),
          "text", "source", s"$store/shard-$i")
      }
      def est() = Scale.cmsTokenEstimates(spark, s"$store/shard-*",
          Seq("alpha", "beta", "absent"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      writeShards()
      val before = est()
      assert(before("alpha") == ((50L, 90L)))
      Scale.compactCmsSketches(spark, store)
      val segs = new java.io.File(store).listFiles()
        .filter(_.getName.startsWith("shard-"))
      assert(segs.length == 1 && segs.head.getName.startsWith("shard-compact-"))
      // cell-wise addition: every point estimate and the total invariant
      assert(est() == before)
      // idempotent on a single segment
      Scale.compactCmsSketches(spark, store)
      assert(est() == before)
      // crash re-run: covered shards reappear next to the compact
      // segment; the healing compaction must exclude the leftover
      // (counts would otherwise double: alpha 100, total 180)
      writeShards()
      Scale.compactCmsSketches(spark, store)
      assert(est() == before)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("CMS sketches: sharded merge serves exact-regime frequencies") {
    val out = java.nio.file.Files.createTempDirectory("graft-cms-spec")
    try {
      // tiny vocabulary, wide sketch (eps small vs N) → estimates are
      // EXACT with overwhelming margin; shard-merge must serve the
      // whole-corpus counts, and an absent token estimates 0
      val docs = ((1 to 40).map(i => (i.toLong, "alpha beta", s"s${i % 4}")) ++
        (1 to 10).map(i => (100L + i, "alpha", s"s${i % 4}")))
        .toDF("doc_id", "text", "source")
      Scale.writeCmsSketches(docs, "text", "source", s"$out/cms")
      val est = Scale.cmsTokenEstimates(spark, s"$out/cms",
          Seq("alpha", "beta", "absent"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(est("alpha") == ((50L, 90L))) // 40 + 10, total = 90 tokens
      assert(est("beta") == ((40L, 90L)))
      assert(est("absent") == ((0L, 90L)))
      // the store holds one fixed-size sketch per shard
      assert(spark.read.parquet(s"$out/cms").count() == 4)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(out.toFile)
    }
  }

  test("property: COUNT equals SUM of ones (reference COUNT() desugar)") {
    samples(Gen.listOfN(30, Gen.chooseNum(0, 5)), 5).foreach { ks =>
      val df = ks.toDF("k")
      val viaCount = df.groupBy("k").agg(F.count(F.lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val viaSum = df.groupBy("k").agg(F.sum(F.lit(1L)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(viaCount == viaSum)
    }
  }

  test("metadata rowCount over a many-segment manifest: listing runs " +
       "inside the distributed job, never as a per-segment driver loop") {
    import graft.sources.Versioned
    // the dataset lives behind a COUNTING filesystem (countfs:// = raw
    // local + a listStatus ledger recording the calling THREAD), so
    // the spec can see WHERE each data-dir listing executed
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    // fresh FS cache entry per scheme — drop any stale instance
    org.apache.hadoop.fs.FileSystem.closeAll()
    val local = java.nio.file.Files
      .createTempDirectory("graft-countfs").toString
    val path = s"countfs://$local/ds"
    (0 until 48).foreach { i =>
      Versioned.commit(
        Seq((i.toLong, s"p$i")).toDF("id", "p").coalesce(1), path)
    }
    CountingLocalFs.listings.clear()
    assert(Versioned.rowCount(spark, path) == 48L)
    val dataListings = CountingLocalFs.listings.asScala.toSeq
      .filter(_._2.contains("/data/"))
    assert(dataListings.nonEmpty,
      "the ledger saw no data-dir listings — the countfs scheme is " +
        "not wired through; the assertion below would be vacuous")
    val driverSide = dataListings.filterNot(
      _._1.contains("Executor task launch worker"))
    assert(driverSide.isEmpty,
      s"rowCount listed ${driverSide.length} segment dir(s) on the " +
        s"driver (threads: ${driverSide.map(_._1).distinct.mkString(", ")})" +
        " — the per-segment driver loop is back")
  }

  test("changeFeed over a long version range: manifest reads are ONE " +
       "distributed job, driver filesystem calls O(1) in range length") {
    import graft.sources.Versioned
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    org.apache.hadoop.fs.FileSystem.closeAll()
    val local = java.nio.file.Files
      .createTempDirectory("graft-countfs-cf").toString
    val path = s"countfs://$local/ds"
    val nVersions = 60 // well past the bulk cutoff
    (0 until nVersions).foreach { i =>
      Versioned.commit(
        Seq((i.toLong, s"p$i")).toDF("id", "p").coalesce(1), path)
    }
    CountingLocalFs.listings.clear()
    CountingLocalFs.opens.clear()
    val feed = Versioned.changeFeed(spark, path, 2L)
    // the plan stays O(1) legs (ChangeFeedSpec pins that); here the
    // ledger pins the DRIVER metadata cost: the range's ~58 manifests
    // must be read by executor tasks, with only a bounded constant of
    // driver-side opens (head-schema resolution + the from-base read)
    val manifestOpens = CountingLocalFs.opens.asScala.toSeq
      .filter(_._2.contains("/manifest/v-"))
    val driverOpens = manifestOpens.filterNot(
      _._1.contains("Executor task launch worker"))
    val execOpens = manifestOpens.filter(
      _._1.contains("Executor task launch worker"))
    assert(execOpens.size >= nVersions - 5,
      s"expected the range's manifests to be read in the distributed " +
        s"job, but executors opened only ${execOpens.size}")
    assert(driverOpens.size <= 8,
      s"changeFeed opened ${driverOpens.size} manifest files on the " +
        s"driver over a $nVersions-version range — the per-version " +
        s"driver loop is back (${driverOpens.map(_._2).take(12)})")
    // and the feed itself is still correct: one insert row per commit
    assert(feed.count() == nVersions - 2L)
  }

  test("Versioned.read over a wide manifest: segment listings and " +
       "sidecar reads run distributed, zero per-segment driver loops") {
    import graft.sources.Versioned
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    org.apache.hadoop.fs.FileSystem.closeAll()
    val local = java.nio.file.Files
      .createTempDirectory("graft-countfs-read").toString
    val path = s"countfs://$local/ds"
    val nSegs = 48 // past the distributed-open cutoff
    (0 until nSegs).foreach { i =>
      Versioned.commit(
        Seq((i.toLong, s"p$i")).toDF("id", "p").coalesce(1), path)
    }
    CountingLocalFs.listings.clear(); CountingLocalFs.opens.clear()
    assert(Versioned.read(spark, path)
      .agg(F.count(F.lit(1))).collect().head.getLong(0) == nSegs.toLong)
    def driverSide(q: java.util.concurrent.ConcurrentLinkedQueue[(String, String)],
                   frag: String) =
      q.asScala.toSeq.filter(_._2.contains(frag))
        .filterNot(_._1.contains("Executor task launch worker"))
    val dataListings = driverSide(CountingLocalFs.listings, "/data/")
    assert(dataListings.isEmpty,
      s"read() listed ${dataListings.length} segment dir(s) on the " +
        s"driver over a $nSegs-segment manifest — the per-segment " +
        "driver loop is back")
    val statOpens = driverSide(CountingLocalFs.opens, "/stats/")
    assert(statOpens.isEmpty,
      s"read() opened ${statOpens.length} stats sidecar(s) on the " +
        "driver — the per-segment driver loop is back")
    // and the data-skipping layer still engages through the
    // distributed-open path: a point filter prunes to one segment
    val (tot, kept) = Versioned.pruneCount(spark, path,
      F.col("id") === 7L)
    assert(tot == nSegs && kept == 1,
      s"expected 1/$nSegs segments kept, got $kept/$tot")
  }

  test("versions / streaming latestOffset / commit: each costs one " +
       "manifest-dir listing, never per-version manifest reads") {
    import graft.sources.Versioned
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    org.apache.hadoop.fs.FileSystem.closeAll()
    val local = java.nio.file.Files
      .createTempDirectory("graft-countfs-vers").toString
    val path = s"countfs://$local/ds"
    val nVersions = 40
    (0 until nVersions).foreach { i =>
      Versioned.commit(
        Seq((i.toLong, s"p$i")).toDF("id", "p").coalesce(1), path)
    }
    def manifestCalls[A](q: java.util.concurrent.ConcurrentLinkedQueue[(String, String)]) =
      q.asScala.toSeq.filter(t => t._2.contains("/manifest"))
    // versions(): exactly one manifest-dir listing, zero manifest opens
    CountingLocalFs.listings.clear(); CountingLocalFs.opens.clear()
    assert(Versioned.versions(spark, path).length == nVersions)
    assert(manifestCalls(CountingLocalFs.listings).size == 1,
      s"versions() made ${manifestCalls(CountingLocalFs.listings).size} " +
        "manifest listings — expected exactly 1")
    assert(manifestCalls(CountingLocalFs.opens).isEmpty,
      "versions() opened manifest files — the listing alone carries " +
        "the version numbers")
    // latestOffset (called once per micro-batch): bounded metadata cost
    // — listings only, no per-version manifest opens
    val src = new graft.streaming.VersionedStreamSource(
      spark.sqlContext, path, 0L)
    CountingLocalFs.listings.clear(); CountingLocalFs.opens.clear()
    val off = src.latestOffset(null,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(off != null)
    assert(manifestCalls(CountingLocalFs.listings).size <= 2,
      s"latestOffset made ${manifestCalls(CountingLocalFs.listings).size} " +
        "manifest listings per micro-batch")
    assert(manifestCalls(CountingLocalFs.opens).isEmpty,
      "latestOffset opened manifest files — a per-batch O(versions) " +
        "read cost")
    // one more commit (the CAS path): its manifest metadata cost must
    // be a bounded constant, not a read of the 40-version history
    CountingLocalFs.listings.clear(); CountingLocalFs.opens.clear()
    Versioned.commit(Seq((999L, "x")).toDF("id", "p").coalesce(1), path)
    val commitListings = manifestCalls(CountingLocalFs.listings).size
    val commitOpens = manifestCalls(CountingLocalFs.opens).size
    assert(commitListings <= 6,
      s"commit made $commitListings manifest-dir listings")
    assert(commitOpens <= 6,
      s"commit opened $commitOpens manifest files on a $nVersions-" +
        "version history — expected a bounded constant (the previous " +
        "head's manifest + dv map), not O(versions)")
    def driverManifestOpens() = manifestCalls(CountingLocalFs.opens)
      .filterNot(_._1.contains("Executor task launch worker"))
    // DESCRIBE HISTORY over the full history: one listing for the
    // mtimes + one BULK manifest read (distributed past the cutoff) —
    // never 3 serial driver round trips per version
    CountingLocalFs.listings.clear(); CountingLocalFs.opens.clear()
    val hist = Engine(spark).sql(s"DESCRIBE HISTORY '$path'").df.collect()
    assert(hist.length == nVersions + 1)
    assert(driverManifestOpens().size <= 4,
      s"DESCRIBE HISTORY opened ${driverManifestOpens().size} manifest " +
        "files on the driver — the per-version loop is back")
    // timestamp travel resolution: one listing, zero manifest opens
    CountingLocalFs.listings.clear(); CountingLocalFs.opens.clear()
    assert(Versioned.versionAt(spark, path,
      System.currentTimeMillis() + 60000L) == nVersions + 1L)
    assert(manifestCalls(CountingLocalFs.opens).isEmpty,
      "versionAt opened manifest files — the mtimes ride the listing")
    // vacuum DRY RUN over the full history: its four reference sweeps
    // (txn, cdc, dv, segments) share one bulk manifest read
    CountingLocalFs.listings.clear(); CountingLocalFs.opens.clear()
    val stats = Versioned.vacuum(spark, path, keepVersions = 5,
      dryRun = true)
    assert(stats.versionsDropped == nVersions - 4)
    assert(driverManifestOpens().size <= 4,
      s"vacuum dry-run opened ${driverManifestOpens().size} manifest " +
        s"files on the driver over a ${nVersions + 1}-version history")
  }
}

/** Test-only [[org.apache.hadoop.fs.RawLocalFileSystem]] registered as
  * `countfs://`: every `listStatus` lands in a JVM-wide ledger with the
  * calling thread's name, so specs can assert WHERE metadata listings
  * execute (driver loop vs distributed task). Local mode runs driver
  * and executors in one JVM — the static ledger sees both. */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def listStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    CountingLocalFs.listings.add(
      Thread.currentThread().getName -> p.toString)
    super.listStatus(p)
  }
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.opens.add(
      Thread.currentThread().getName -> p.toString)
    super.open(p, bufferSize)
  }
}

object CountingLocalFs {
  val listings =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  val opens =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}
