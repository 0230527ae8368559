package graft

import org.apache.spark.sql.functions._

import graft.functions.VecF
import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis, TextHash}

class PipelineSpec extends SparkSpec {

  private def docs() = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "spark engines shuffle data across the cluster"),
      (3L, "completely different content about query planning"),
      (4L, "the quick brown fox jumps over the lazy dog")) // exact dup of 0
      .toDF("doc_id", "text")
  }

  test("token hash matches the cross-engine polynomial ('spark' → 638038)") {
    import spark.implicits._
    val h = Seq("spark").toDF("text")
      .select(TextHash.tokenHashesCol("text").as("th"))
      .collect()(0).getSeq[Long](0)
    assert(h == Seq(638038L))
  }

  test("ShingleHashes kernel agrees with the independent Catalyst-" +
      "lambda formulation on edge-case strings and real corpus text") {
    import spark.implicits._
    // TextHash.{tokenHashesCol, shingleHashesCol} build the SAME
    // contract from interpreted higher-order functions — a second,
    // independently-written implementation that cross-checks the
    // codegen kernel the dedup family actually ships (the in-JVM
    // analogue of the DuckDB oracle, but edge-case-rich).
    val edge = Seq("a b", "a  b", " a b ", "", "one", "a b a b a b",
      "tab\tis one token", "ünïcödé tökens here", "x " * 200,
      // non-BMP (surrogate-pair) code points: the kernels fold CODE
      // POINTS like the interpreted ascii(substr) form, so 😀 / 𝄞
      // contribute ONE value, not two surrogate halves
      "a😀b c😀", "𝄞clef 𝄞clef again")
    val real = Tables.documents(spark, sf("sf0.001"))
      .select(col("text")).limit(50).as[String].collect().toSeq
    val df = (edge ++ real).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val kernel = Dedup.shingles(df, "id", "text")
      .groupBy("id").agg(sort_array(collect_list("s")).as("ks"))
    val lambda = df.select(col("id"),
        TextHash.shingleHashesCol(TextHash.tokenHashesCol("text")).as("sh"))
      .select(col("id"), explode(col("sh")).as("s")).distinct()
      .groupBy("id").agg(sort_array(collect_list("s")).as("ls"))
    val joined = kernel.join(lambda, Seq("id"), "full")
      .select(col("id"), col("ks"), col("ls")).collect()
    // both implementations drop <2-token docs ("" and "one") the same
    // way: an empty shingle array explodes to no rows at all
    assert(joined.length == edge.length + real.length - 2)
    assert(!joined.exists(r => r.isNullAt(1) || r.isNullAt(2)),
      "one formulation emitted a doc the other dropped")
    joined.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.get(0)}")
    }
    // ...and the minhash built from the kernel shingles (the shipped
    // agg formulation, Dedup.minhashSignatures) agrees with the
    // array-lambda formulation TextHash.minhashCol per doc
    val aggMh = Dedup.minhashSignatures(
      Dedup.shingles(df, "id", "text"), numHashes = 4)
    val lamMh = df.select(col("id"),
        TextHash.shingleHashesCol(TextHash.tokenHashesCol("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(Seq(col("id")) ++
        (0 until 4).map(k => TextHash.minhashCol(col("sh"), k).as(s"mh$k")): _*)
    val mhJoined = aggMh.join(lamMh, Seq("id"), "full").collect()
    assert(mhJoined.length == edge.length + real.length - 2)
    mhJoined.foreach { r =>
      (1 to 4).foreach { k =>
        assert(!r.isNullAt(k) && !r.isNullAt(k + 4) &&
          r.getLong(k) == r.getLong(k + 4), s"id=${r.get(0)} mh${k - 1}")
      }
    }
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs(), "doc_id", "text")
      .orderBy("rep_id").collect()
    assert(out.length == 4)
    assert(out(0).getAs[Long]("rep_id") == 0L &&
      out(0).getAs[Long]("n_copies") == 2L)
    // the hash-keyed variant (what dedup_exact ships — its exchange
    // carries 16-byte hashes, not document text) groups identically
    val hashed = Dedup.exactHashed(docs(), "doc_id", "text")
      .select("rep_id", "n_copies").orderBy("rep_id").collect()
    assert(hashed.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      out.map(r => (r.getAs[Long]("rep_id"), r.getAs[Long]("n_copies")))
        .toSeq)
  }

  test("boundedBloom caps its bit budget regardless of the claimed " +
      "element count, and never false-negatives") {
    import spark.implicits._
    val df = (0L until 1000L).toDF("h")
    // a wildly overestimated element count must NOT inflate the sketch
    // past the cap (the r8 unbounded-driver-heap finding)
    val capBits = 1L << 20
    val bloom = Dedup.boundedBloom(df, "h", estItems = 50_000_000_000L,
      maxBits = capBits)
    assert(bloom.bitSize() <= capBits,
      s"sketch exceeded its cap: ${bloom.bitSize()}")
    // no false negatives even with the degraded fpp
    (0L until 1000L).foreach(h => assert(bloom.mightContainLong(h)))
    // and a sane estimate keeps a useful sketch below the cap
    val small = Dedup.boundedBloom(df, "h", estItems = 1000L)
    assert(small.bitSize() <= Dedup.DefaultBloomBits)
    (0L until 1000L).foreach(h => assert(small.mightContainLong(h)))
  }

  test("count-min sketch estimate is an upper bound on the exact count " +
      "for arbitrary probe tokens, present or absent") {
    // the oracle pins the 10 shipped candidates bit-exactly; this pins
    // the BOUND property on 40 random probes incl. absent tokens
    val sf = "/root/testdata/sf0.001"
    val est = graft.queries.PipelineQueries.sketchCmsHeavy(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    est.foreach { case (tok, (e, exact)) =>
      assert(e >= exact, s"CMS under-counted '$tok': est=$e exact=$exact")
    }
    // absent token: estimate may be > 0 (collisions) but exact is 0 —
    // probe through the same cell arithmetic via a one-off run is
    // covered by the oracle; here assert the shipped set is non-trivial
    assert(est.nonEmpty && est.exists(_._2._2 > 0))
  }

  test("jaccard pairs find near-dups and exact dups") {
    val pairs = Dedup.jaccardPairs(docs(), "doc_id", "text", 0.5)
      .orderBy("id_a", "id_b").collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((0L, 4L))) // exact dup: jaccard 1.0
    assert(keys.contains((0L, 1L)) && keys.contains((1L, 4L))) // near-dup
    assert(!keys.exists { case (a, b) => a == 3L || b == 3L })
    val exact = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 4L).get
    assert(exact.getAs[Double]("jaccard") == 1.0)
  }

  test("jaccard bitmap and inverted-index strategies agree exactly") {
    val sh = Dedup.shingles(docs(), "doc_id", "text").persist()
    val vocab = sh.select("s").distinct().count().toInt
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Double]("jaccard"))).toSeq
    assert(norm(Dedup.jaccardPairsBitmap(sh, vocab, 0.1)) ==
      norm(Dedup.jaccardPairsInverted(sh, 0.1)))
  }

  test("prefix filtering is exact: agrees with the plain inverted join") {
    // random corpus over a medium vocabulary so prefixes actually prune
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = (0 until 300).map(i => s"w$i")
    val bases = (0 until 120).map(_ =>
      Seq.fill(8 + rnd.nextInt(25))(words(rnd.nextInt(words.length))))
    // doc 3k+1 is a small mutation of doc 3k → guaranteed near-dups
    val docsDf = bases.zipWithIndex.map { case (base, i) =>
      val text =
        if (i % 3 == 1) bases(i - 1).take(3) ++ Seq("x", "y") ++
          bases(i - 1).drop(5)
        else base
      (i.toLong, text.mkString(" "))
    }.toDF("doc_id", "text")
    val sh = Dedup.shingles(docsDf, "doc_id", "text").persist()
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Double]("jaccard"))).toSeq
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val prefix = norm(Dedup.jaccardPairsPrefix(sh, t))
      val plain = norm(Dedup.jaccardPairsInverted(sh, t))
      assert(prefix == plain, s"threshold $t: prefix ${prefix.size} pairs" +
        s" vs plain ${plain.size}")
      assert(plain.nonEmpty || t > 0.5)
    }
    sh.unpersist()
  }

  test("jaccardPairsAuto guards the dense path on broadcast bytes") {
    // tiny vocab but a broadcast cap of 1 byte → must take the sparse
    // (prefix) path and still return identical results
    val dense = Dedup.jaccardPairsAuto(docs(), "doc_id", "text", 0.5)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    val sparse = Dedup.jaccardPairsAuto(docs(), "doc_id", "text", 0.5,
        denseBroadcastBytes = 1L)
      .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    assert(dense == sparse && dense.nonEmpty)
  }

  test("near-dup clustering: connected components get min-id labels") {
    import spark.implicits._
    // components: {1,2,3} (chain), {5,6}, singleton 9 not in pairs
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    // driver union-find path (small graph)...
    val got = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // ...and the distributed label-propagation path agree
    val gotDist = Dedup.clusterPairs(pairs, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == expect)
  }

  test("clustering paths agree on a long chain (pointer jumping)") {
    import spark.implicits._
    // one 40-node chain: diameter 39 → exercises the O(log d) rounds
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val driver = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.clusterPairs(pairs, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver == (1L to 40L).map(_ -> 1L).toMap)
    assert(dist == driver)
  }

  test("minhash LSH recovers the same high-sim pairs as exact jaccard") {
    val exact = Dedup.jaccardPairs(docs(), "doc_id", "text", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs(), "doc_id", "text", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH candidates are a subset of all pairs; after verification the
    // surviving pairs must be a subset of the exact result, and at this
    // similarity level (≈1.0) recall should be total
    assert(lsh == exact)
  }

  test("simhash: identical docs share signatures; hamming pairs found") {
    val sigs = Dedup.simhash(docs(), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(4L))
    val pairs = Dedup.simhashPairs(docs(), "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L)))
  }

  test("dedup_simhash_clusters == clustering the doc-level pair " +
      "stream (the sig-graph shortcut loses nothing)") {
    // The cluster surface never materializes a doc pair: components
    // run over DISTINCT signatures, membership comes from group
    // sizes. Equivalence to clustering the emitted hamming ≤ 1 pair
    // stream is exactly what makes it the at-scale output shape.
    import org.apache.spark.sql.functions._
    val d = sf("sf0.01")
    val viaPairs = Dedup.clusterPairs(
        Dedup.simhashPairs(Tables.documents(spark, d), "doc_id", "text",
          maxHamming = 1))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster").as("representative"), col("n_members"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaSigs = graft.queries.PipelineQueries
      .dedupSimhashClusters(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSigs == viaPairs)
    assert(viaSigs.nonEmpty)
  }

  test("simhash kernel == the exploded ±1-sum aggregate semantics " +
      "on seeded random corpora (incl. empty tokens, repeats)") {
    // the round-14 one-pass kernel replaced a 32-conditional-sum
    // aggregate over exploded token rows; this pins value identity
    // against an independent reimplementation of that definition
    def reference(text: String, bits: Int): Long = {
      val cnt = new Array[Int](bits)
      text.split(" ", -1).foreach { t =>
        // code-point fold (the ascii(substr) mirror semantics)
        val h = t.codePoints().toArray
          .foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000003L)
        (0 until bits).foreach { j =>
          if (((h >>> j) & 1L) == 1L) cnt(j) += 1 else cnt(j) -= 1
        }
      }
      (0 until bits).map(j => if (cnt(j) > 0) 1L << j else 0L).sum
    }
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("alpha", "beta", "gamma", "", "x", "longertoken",
      "été", "n°7", "e😀moji") // incl. empty + non-ASCII + non-BMP
    val texts = (1 to 60).map { _ =>
      (0 until 1 + rnd.nextInt(40))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ "" :+ " " :+ "  " // boundary shapes: empty and space-only docs
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Dedup.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == reference(t, 32),
        s"kernel diverged from the aggregate definition on doc $i: '$t'")
    }
  }

  test("char-folding kernels fold CODE POINTS: agree with the " +
      "interpreted ascii(substr) mirror on non-BMP (surrogate) text") {
    import spark.implicits._
    val texts = Seq("a😀b", "𝄞 clef 𝄞𝄞", "plain ascii words", "é😀é 𝄞x",
      "😀😀😀😀😀😀😀😀😀😀", "") // 10-cp emoji run: 8-cp windows are non-BMP
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    // poly_hash == the interpreted whole-string ascii(substr) fold
    // (probe-verified: Spark's ascii/substr/length count code points,
    // like the DuckDB oracle — a surrogate pair is ONE fold step)
    df.select(col("id"),
        expr("""aggregate(sequence(1, length(text)), 0L,
          (acc, i) -> (acc * 31 + ascii(substr(text, i, 1))) % 1000003L)""")
          .as("m"),
        graft.functions.HashF.polyHash(col("text")).as("k"))
      .collect().foreach { r =>
        assert(r.getLong(1) == r.getLong(2), s"poly_hash id=${r.get(0)}")
      }
    // fingerprint8 == an independent code-point reference
    def fpRef(t: String): Option[(Long, Long)] = {
      val cps = t.codePoints().toArray
      if (cps.length < 8) None
      else {
        val hs = (0 to cps.length - 8).map { i =>
          var h = 0L
          (0 until 8).foreach(k => h = h * 31 + cps(i + k))
          h % 1000003L
        }
        Some((hs.min, hs.distinct.size.toLong))
      }
    }
    df.select(col("id"), col("text"),
        graft.functions.HashF.fingerprint8(col("text")).as("fp"))
      .collect().foreach { r =>
        val want = fpRef(r.getString(1))
        if (want.isEmpty) assert(r.isNullAt(2), s"fp id=${r.get(0)}")
        else {
          val s = r.getStruct(2)
          assert((s.getLong(0), s.getLong(1)) == want.get,
            s"fp id=${r.get(0)}")
        }
      }
    // dsir_buckets == the exploded interpreted per-word fold
    val kern = df.select(col("id"),
        explode(graft.functions.HashF.dsirBuckets(col("text"), 256)).as("e"))
      .select(col("id"), col("e.b"), col("e.n"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val mirror = df.select(col("id"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("id"),
        (expr("""aggregate(sequence(1, length(w)), 0L,
          (acc, i) -> (acc * 31 + ascii(substr(w, i, 1))) % 1000003L)""")
          % 256).cast("int").as("b"))
      .groupBy("id", "b").count()
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(kern == mirror, "dsir_buckets diverged from the mirror")
  }

  test("FloatVectorDot: interpreted + codegen agree with manual dot") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    val got = df.select(VecF.dotF(col("a"), col("b")).as("d"))
      .collect()(0).getDouble(0)
    assert(got == 32.0)
    val norm = df.select(VecF.normF(col("a")).as("n")).collect()(0).getDouble(0)
    assert(math.abs(norm - math.sqrt(14.0)) < 1e-12)
  }

  test("brute-force top-k ranks by cosine with deterministic ties") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.01f)),
      (2L, Array(0f, 1f)), (3L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2).orderBy("rank").collect()
    assert(out(0).getAs[Long]("neighbor_id") == 3L) // identical vector
    assert(out(0).getAs[Double]("cos") == 1.0)
    assert(out(1).getAs[Long]("neighbor_id") == 1L)
  }

  test("ANN LSH buckets: identical vectors share buckets; top-k sane") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => math.sin(i).toFloat)
    val emb = Seq(
      (0L, base), (1L, base.map(v => v * 1.001f)),
      (2L, base.map(v => -v))).toDF("vec_id", "embedding")
    val out = Similarity.annTopK(emb, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2)
    val rows = out.collect()
    assert(rows.exists(_.getAs[Long]("neighbor_id") == 1L))
    assert(!rows.exists(_.getAs[Long]("neighbor_id") == 2L)) // opposite bucket
  }

  test("text quality metrics") {
    val q = TextAnalysis.quality(docs(), "doc_id", "text")
      .filter(col("doc_id") === 0).collect()(0)
    assert(q.getAs[Long]("n_tokens") == 9L)
    assert(q.getAs[Long]("n_distinct") == 8L) // 'the' twice
    val ratio = q.getAs[Double]("stop_ratio")
    assert(math.abs(ratio - 2.0 / 9) < 1e-6)
  }

  test("langid is deterministic with alphabetical tie-break") {
    import spark.implicits._
    val out = TextAnalysis.langId(docs(), "doc_id", "text").collect()
    assert(out.length == 5)
    // doc 3 hits the 'en' marker 'query'
    assert(out.find(_.getLong(0) == 3L).get.getAs[String]("pred_lang") == "en")
    // zero marker hits anywhere → tie across all langs → 'de' (first)
    val zero = TextAnalysis.langId(
      Seq((9L, "zzz yyy xxx")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()(0)
    assert(zero.getAs[String]("pred_lang") == "de" &&
      zero.getAs[Long]("score") == 0L)
  }

  test("fingerprint: identical docs identical, different docs differ") {
    val fp = TextAnalysis.fingerprint(docs(), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(4L))
    assert(fp(0L) != fp(2L))
  }

  test("multimodal features feed the similarity operators (composition)") {
    import spark.implicits._
    val media = Multimodal.asMedia(
      docs().withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload", kind = "text")
    val feats = Multimodal.extractFeatures(media)
      .map(f => (f.id, f.features))
      .toDF("vec_id", "embedding")
    // exact dup docs 0 and 4 have identical stub features → cosine 1.0
    val pairs = Similarity.cosinePairs(feats, "vec_id", "embedding",
      threshold = 0.9999).collect()
    assert(pairs.exists(r => r.getLong(0) == 0L && r.getLong(1) == 4L))
  }

  test("cosinePairs guard: fails loudly above the row cap unless forced") {
    import spark.implicits._
    val big = spark.range(Similarity.CosinePairsGuardRows + 1)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), lit(0.0f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(big, "vec_id", "embedding", 0.9)
    }
    assert(e.getMessage.contains("cosinePairsLsh"))
    // force=true bypasses (plan only — no need to execute the n² join)
    Similarity.cosinePairs(big, "vec_id", "embedding", 0.9, force = true)
    // at/below the cap it runs
    val small = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.cosinePairs(small, "vec_id", "embedding", 0.99)
      .count() == 1)
  }

  test("REAL image decode: PNG payloads yield pixel features, resize works") {
    import spark.implicits._
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // pure red 16x8 and mid-gray 8x8
    val rows = Seq((1L, png(16, 8, 0xFF0000)), (2L, png(8, 8, 0x808080)),
      (3L, "not an image".getBytes))
    val media = Multimodal.asMedia(rows.toDF("id", "payload"),
      "id", "payload", kind = "image")
    val feats = Multimodal.extractImageFeatures(media)
      .collect().map(f => f.id -> f.features).toMap
    // red image: w=16 h=8, meanR=255, meanG=meanB=0, luma const → stddev 0
    assert(feats(1L)(0) == 16f && feats(1L)(1) == 8f)
    assert(feats(1L)(2) == 255f && feats(1L)(3) == 0f && feats(1L)(4) == 0f)
    assert(math.abs(feats(1L)(6)) < 1e-3) // constant luma
    assert(feats(1L)(7) == 2.0f) // aspect
    assert(feats(2L)(2) == 0x80.toFloat)
    // non-image payload takes the flagged byte-level fallback
    assert(feats(3L)(0) == -1f)
    // real resize: decodes to requested dims, color preserved
    val small = Multimodal.resizeImage(png(16, 8, 0xFF0000), 4, 4).get
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(small))
    assert(back.getWidth == 4 && back.getHeight == 4)
    assert((back.getRGB(2, 2) & 0xFFFFFF) == 0xFF0000)
  }

  test("REAL audio decode: WAV PCM yields rate, duration, RMS, ZCR") {
    // 440 Hz sine, 16-bit mono PCM at 8 kHz, 0.5 s, amplitude 0.5
    val rate = 8000f
    val n = 4000
    val samples = Array.tabulate(n)(i =>
      (0.5 * math.sin(2 * math.Pi * 440 * i / rate) * 32767).toShort)
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val raw = new Array[Byte](n * 2)
    val bb = java.nio.ByteBuffer.wrap(raw)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(bb.putShort)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val feats = Multimodal.audioFeatures(bos.toByteArray).get
    assert(feats(0) == 8000f && feats(1) == 1f) // rate, channels
    assert(math.abs(feats(2) - 0.5f) < 1e-3) // duration
    // sine RMS = A/sqrt(2) ≈ 0.3536; ZCR = 2 * f / rate = 0.11
    assert(math.abs(feats(3) - 0.3536f) < 0.01)
    assert(math.abs(feats(4) - 2 * 440 / 8000.0) < 0.01)
    assert(feats(7) == 16f)
    // non-audio payloads are None, not garbage
    assert(Multimodal.audioFeatures("hello".getBytes).isEmpty)
  }

  test("PII redaction: emails, phones, IPs; order protects hosts") {
    import spark.implicits._
    val df = Seq((1L,
      "mail a.user@site.org then call 555-123-4567 from 192.168.0.12 ok"))
      .toDF("id", "t")
    val out = df.select(
      TextAnalysis.redactPii(col("t")).as("r"),
      TextAnalysis.piiCount(col("t"), "email").as("ne"),
      TextAnalysis.piiCount(col("t"), "phone").as("np"),
      TextAnalysis.piiCount(col("t"), "ip").as("ni")).head()
    assert(out.getString(0) ==
      "mail <EMAIL> then call <PHONE> from <IP> ok")
    assert((out.getLong(1), out.getLong(2), out.getLong(3)) == ((1L, 1L, 1L)))
    // emails redact BEFORE the ip pass, so a numeric subdomain inside
    // a mail host is not half-eaten by the ip pattern
    val host = Seq((1L, "x u@10.0.0.1.example.com y")).toDF("id", "t")
      .select(TextAnalysis.redactPii(col("t"))).head().getString(0)
    assert(host == "x <EMAIL> y")
  }

  test("BPE: rank-ordered merges segment words like the classic loop") {
    import graft.pipeline.Bpe
    // "the": t+h (rank 0) then th+e (rank 1) — full merge
    assert(Bpe.segment("the") == Seq("the"))
    // "thing": t+h, i+n, then in+g — two tokens
    assert(Bpe.segment("thing") == Seq("th", "ing"))
    assert(Bpe.segment("and") == Seq("and"))
    // "hello": l+l outranks h+e, both apply
    assert(Bpe.segment("hello") == Seq("he", "ll", "o"))
    // same-pair run: leftmost non-overlapping merging
    assert(Bpe.segment("llll") == Seq("ll", "ll"))
    // three-level merge chain: w+i, t+h, wi+th
    assert(Bpe.segment("with") == Seq("with"))
    // unknown chars stay single symbols
    assert(Bpe.segment("xyz") == Seq("x", "y", "z"))
    // count = sum over pre-tokens (capped word run | digit | non-space)
    assert(Bpe.countTokens("the thing and 7 with!") == 7L)
    assert(Bpe.countTokens("") == 0L)
    // the 16-char pre-token cap (oracle-equivalence guard: 4 replace
    // passes halve a 16-symbol same-pair run to exactly 1): a 32-l
    // elongation splits into two capped runs of 16 — 'll'×8 each
    assert(Bpe.countTokens("l" * 32) == 16L)
    assert(Bpe.segment("l" * 16) == Seq.fill(8)("ll"))
    // the merges table is well-formed: every side is a single char or
    // an earlier rule's output — the invariant the oracle's ordered
    // replace-fold equivalence rests on
    val produced = scala.collection.mutable.Set.empty[String]
    Bpe.Merges.foreach { case (a, b) =>
      assert(a.length == 1 || produced.contains(a), s"rule side '$a'")
      assert(b.length == 1 || produced.contains(b), s"rule side '$b'")
      produced += (a + b)
    }
    // expression wrapper agrees with the kernel
    import spark.implicits._
    val got = Seq((1L, "the thing and 7 with!"), (2L, "hello world"))
      .toDF("id", "t")
      .select(graft.functions.HashF.bpeTokenCount(col("t")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(7L, Bpe.countTokens("hello world")))
  }

  test("REAL video decode: MJPEG AVI frames, geometry, features") {
    def jpeg(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    // 6 frames stepping gray levels, 16x8 at 10 fps
    val stills = (0 until 6).map(f => jpeg(16, 8, 0x111111 * (f + 2)))
    val avi = Multimodal.writeMjpegAvi(stills, 16, 8, fps = 10)
    val v = Multimodal.parseAvi(avi).get
    assert(v.width == 16 && v.height == 8)
    assert(v.usPerFrame == 100000L)
    assert(v.frames.length == 6)
    // extracted stills are byte-identical to what went in
    assert(v.frames.zip(stills).forall { case (a, b) => a.sameElements(b) })
    // sampled frames decode to the same pixels ImageIO reads directly
    val sampled = Multimodal.frameSample(avi, 3)
    assert(sampled.length == 3)
    sampled.foreach { f =>
      val direct = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(f))
      assert(direct.getWidth == 16 && direct.getHeight == 8)
    }
    val feats = Multimodal.videoFeatures(avi).get
    assert(feats(0) == 16f && feats(1) == 8f) // decoded frame dims
    assert(feats(2) == 6f) // frame count
    assert(math.abs(feats(3) - 0.6f) < 1e-3) // duration: 6 / 10 fps
    assert(feats(4) == 10f) // fps
    assert(feats(5) > 0f && feats(7) == 2f) // luma, aspect
    // per-frame luma varies across the gray steps → nonzero spread
    assert(feats(6) > 0f)
    // garbage is None, truncated AVI stops clean (frames before the cut)
    assert(Multimodal.parseAvi("RIFFgarbage".getBytes).isEmpty)
    assert(Multimodal.videoFeatures("not avi".getBytes).isEmpty)
    val cut = java.util.Arrays.copyOf(avi, avi.length - stills.last.length)
    assert(Multimodal.parseAvi(cut).exists(_.frames.length < 6))
  }

  test("decode-failure accounting: featureSummary per-kind counts") {
    import spark.implicits._
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, "image", png(4, 4)), (2L, "image", png(2, 2)),
      (3L, "image", "corrupt".getBytes), // decode fails
      (4L, "video", "also corrupt".getBytes)) // decode fails
    val items = rows.toDF("id", "kind", "payload")
      .select(col("id"), col("kind"), col("payload").as("content"),
        map(lit("n_bytes"),
          octet_length(col("payload")).cast("string")).as("meta"))
      .as[Multimodal.MediaItem]
    val summary = Multimodal.featureSummary(
        Multimodal.extractMediaFeatures(items))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
    assert(summary("image") == ((3L, 2L, 0.666667)))
    assert(summary("video") == ((1L, 0L, 0.0)))
  }

  test("custom expressions callable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql("SELECT poly_hash('spark') AS h")
      .collect()(0).getLong(0) == 638038L)
    assert(spark.sql(
      "SELECT float_vector_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))," +
        " array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d")
      .collect()(0).getDouble(0) == 11.0)
    docs().createOrReplaceTempView("docs_v")
    val fp = spark.sql(
      "SELECT fingerprint8(text).fingerprint AS f FROM docs_v WHERE doc_id = 0")
      .collect()(0).getLong(0)
    assert(fp > 0)
    // the KMV sketch aggregator is SQL-reachable too
    val kmv = spark.sql(
      "SELECT kmv64(poly_hash(text)).kk AS kk FROM docs_v")
      .collect()(0).getInt(0)
    assert(kmv > 0 && kmv <= 64)
    // morton_interleave: (0b11, 0b01) -> y0x0 y1x1 ... = 0b0111 = 7
    assert(spark.sql("SELECT morton_interleave(3L, 1L, 10) AS z")
      .collect()(0).getLong(0) == 7L)
    // wide hash + HLL rho + register aggregator, SQL-reachable
    assert(spark.sql("SELECT poly_hash_wide('spark') AS h")
      .collect()(0).getLong(0) == 109638365L) // unwrapped below PW
    assert(spark.sql("SELECT hll_rho(0L) AS r").collect()(0).getInt(0) == 51)
    assert(spark.sql("SELECT hll_rho(256L) AS r")
      .collect()(0).getInt(0) == 50) // w = 1
    val regs = spark.sql(
      "SELECT hll256(poly_hash_wide(text)) AS regs FROM docs_v")
      .collect()(0).getSeq[Int](0)
    assert(regs.length == 256 && regs.exists(_ > 0))
  }

  test("HLL sketch (approx_count_distinct) lands near exact distinct") {
    val ev = Tables.events(spark, sf("sf0.01"))
    val r = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id"), 0.05).as("approx"))
      .collect()(0)
    val exact = r.getLong(0).toDouble
    assert(math.abs(r.getLong(1) - exact) / exact < 0.1)
  }

  test("multimodal: binary plumbing + stub features, batched") {
    val media = Multimodal.asMedia(
      docs().withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload", kind = "text")
    val feats = Multimodal.extractFeatures(media, batchSize = 2).collect()
    assert(feats.length == 5)
    val f0 = feats.find(_.id == 0L).get
    val f4 = feats.find(_.id == 4L).get
    assert(f0.features.toSeq == f4.features.toSeq) // deterministic stub
    assert(math.abs(f0.features.sum - 1f) < 1e-5)  // normalized histogram
    assert(f0.nBytes == "the quick brown fox jumps over the lazy dog".length)
    // frame-sample stub (video path)
    val bytes = Array.tabulate(100)(_.toByte)
    assert(Multimodal.frameSampleStub(bytes, 4, 8).map(_.length).forall(_ == 8))
  }
}
