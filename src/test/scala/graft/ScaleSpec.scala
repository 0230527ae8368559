package graft

import org.apache.spark.sql.functions._

import graft.cube.{Cube, CubeGrid, CubeIngest}
import graft.geo.Geo.{Polygon, Pt}
import graft.operators.{Pyramid, Skew, TimeSeries}
import graft.render.Render
import graft.server.TileService

/** Assertions about the physical plans and layout — the properties that
  * make the same queries viable at 100 TB. */
class ScaleSpec extends SparkSpec {

  test("zonal window filter pushes to the parquet scan on an ingested cube") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scale").toString
    val grid = CubeGrid(64, 32, 0.0, 40.0, 0.1, latAscending = true)
    val cube = Cube.synthetic(spark, grid, 2, Seq("v0"))
    CubeIngest.writeCube(cube, s"$dir/cube", tileSize = 16)
    val back = CubeIngest.readCube(spark, s"$dir/cube", grid, Seq("v0"))
    val tri = Polygon(IndexedSeq(Pt(0.31, 40.21), Pt(2.49, 40.41), Pt(1.01, 41.79)))
    val q = TimeSeries.zonal(back, "v0", tri)
    val plan = q.queryExecution.executedPlan.toString
    // the x/y index-window predicates must reach the scan
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("GreaterThanOrEqual(x_idx") ||
      plan.contains("x_idx#"), "window filter missing from scan:\n" + plan.take(800))
    assert(q.count() == 2)
  }

  test("shingles is a zero-shuffle codegen scan: no exchange, no " +
      "window, one shingle_hashes kernel") {
    // The r10 contract: the shingle stage neither shuffles the token
    // table (the old per-doc window sort) nor the shingle rows (the
    // old distinct) — at 100 TB those two exchanges carried ~40-50% of
    // the dedup family's shuffled bytes. Dedup happens IN-kernel.
    val q = graft.pipeline.Dedup.shingles(
      Tables.documents(spark, sf("sf0.001")), "doc_id", "text")
    val plan = q.queryExecution.executedPlan
    assert(plan.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        => e
    }.isEmpty, "shingles must not shuffle:\n" + plan.toString.take(800))
    assert(plan.collectFirst {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "shingles must not window:\n" + plan.toString.take(800))
    assert(plan.toString.contains("shingle_hashes"),
      "kernel missing:\n" + plan.toString.take(800))
    // in-kernel dedup really produces globally distinct pairs
    assert(q.count() == q.distinct().count())
  }

  test("interval_join stays an equi-join under forced-shuffle " +
      "planning — never BroadcastNestedLoopJoin") {
    // The whole point of bucket expansion: a range join that does NOT
    // degrade to per-row interval scans when the interval side is too
    // big to broadcast. BNLJ is allowed elsewhere only for scalar
    // broadcasts; here it would be the quadratic plan we built the
    // operator to avoid.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = graft.queries.Relational
        .intervalJoin(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        "range join degenerated:\n" + plan.take(1200))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        "expected a shuffled equi-join on the bucket key:\n" + plan.take(800))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val n = 10000
    spark.range(n).select(col("id").as("k"), (col("id") % 97).as("v1"))
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_a")
    spark.range(n).select(col("id").as("k"), (col("id") % 31).as("v2"))
      .write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_b")
    val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed join should not shuffle:\n" + plan.take(800))
    assert(joined.count() == n)
  }

  test("salted join spreads hot keys and matches the plain join") {
    import spark.implicits._
    // skewed: 90% of rows share key 1
    val big = (1 to 5000).map(i =>
      (if (i % 10 == 0) i.toLong % 7 else 1L, i.toLong)).toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (0L, "z"))
      .toDF("k", "label")
    val plain = big.join(small, Seq("k")).select("k", "payload", "label")
    val salted = Skew.saltedJoin(big, small, "k", saltFrom = "payload",
      factor = 8).select("k", "payload", "label")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("skew probe gates the salted path: hot corpus salts, uniform " +
      "doesn't") {
    import spark.implicits._
    // hot: 90% of rows share one key
    val hot = (1 to 5000).map(i =>
      (if (i % 10 == 0) i.toLong % 7 else 1L, i.toLong)).toDF("k", "payload")
    val uniform = (1 to 5000).map(i => (i.toLong % 997, i.toLong))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (0L, "z"))
      .toDF("k", "label")
    // the probe sees the hot key's share (sampled, one aggregation)
    val hotReport = Skew.probe(hot, "k", sampleFraction = 0.2)
    assert(hotReport.topKey.contains("1"))
    assert(hotReport.topShare > 0.5)
    assert(hotReport.hot(partitions = 32))
    val uniReport = Skew.probe(uniform, "k", sampleFraction = 0.2)
    assert(!uniReport.hot(partitions = 32))
    // the gated join activates only where the probe says so — and the
    // salted plan returns exactly the plain join's rows
    val (saltedPlan, didSalt) = Skew.autoSaltedJoin(hot, small, "k",
      saltFrom = "payload", factor = 8, partitions = 32,
      sampleFraction = 0.2)
    assert(didSalt)
    val plain = hot.join(small, Seq("k")).select("k", "payload", "label")
    val got = saltedPlan.select("k", "payload", "label")
    assert(got.count() == plain.count())
    assert(got.except(plain).isEmpty && plain.except(got).isEmpty)
    val (_, didSaltUniform) = Skew.autoSaltedJoin(uniform, small, "k",
      saltFrom = "payload", factor = 8, partitions = 32,
      sampleFraction = 0.2)
    assert(!didSaltUniform)
  }

  test("ANN corpus partitioned by LSH bucket prunes the probe scan") {
    import graft.pipeline.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-ann").toString
    val ps = Similarity.planes(8, 8)
    // deterministic float vectors, dim 8
    val emb = spark.range(2000).select(col("id"),
      expr("CAST(transform(sequence(0, 7), " +
        "i -> (CAST(pmod(id * 7 + i * 13, 200) AS DOUBLE) - 100) / 100.0)" +
        " AS array<float>)").as("vec"))
    val withBucket = emb.withColumn("bucket",
      Similarity.bucketCol("vec", ps))
    withBucket.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/corpus")
    val back = spark.read.parquet(s"$dir/corpus")
    val buckets = back.select("bucket").distinct().count()
    assert(buckets > 4, s"expected a spread of buckets, got $buckets")
    // probing one bucket must hit partition pruning, not a full scan
    val probe = back.filter(col("bucket") === 0)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket") ||
      plan.contains("PartitionFilters: [(bucket"),
      "bucket probe did not prune partitions:\n" + plan.take(800))
  }

  test("tile service routes z to the matching pyramid level") {
    val grid = CubeGrid(32, 16, 0.0, 0.0, 1.0, latAscending = true)
    val cube = Cube.synthetic(spark, grid, 1, Seq("v0"), nanEvery = 1000)
    val levels = Pyramid.build(cube, Pyramid.Mean, tileW = 8, tileH = 8)
    val svc = new TileService(levels, tileSize = 8)
    assert(svc.numLevels == 3)
    assert(svc.levelForZ(0).grid.width == 8)   // coarsest
    assert(svc.levelForZ(2).grid.width == 32)  // finest
    val t = cube.df.select(min("time")).collect()(0).getTimestamp(0)
    val png = svc.renderTile("v0", t, z = 0, tileX = 0, tileY = 0,
      Render.ColorMapping(0.0, 100.0, Render.GrayLike))
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
  }

  test("typed time-series surface (Dataset[TsPoint])") {
    val grid = CubeGrid(8, 4, 0.0, 50.0, 1.0, latAscending = true)
    val cube = Cube.synthetic(spark, grid, 2, Seq("v0"), nanEvery = 1000)
    val ds = TimeSeries.pointTyped(cube, "v0", lon = 2.5, lat = 51.5)
    val pts: Seq[TimeSeries.TsPoint] = ds.collect().toSeq
    assert(pts.length == 2)
    assert(pts.forall(_.total_count == 1L))
    assert(pts.forall(_.average.isDefined))
  }

  test("decontamination broadcasts the benchmark side (no corpus shuffle)") {
    // the lazy plan: the shipped query materializes (localCheckpoint)
    // and releases its cache, which collapses the executed plan to a
    // Scan of the result RDD — the join shape lives in the inner plan
    val (q, sh) = graft.queries.PipelineQueries.decontaminateLazy(
      spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(800))
    sh.unpersist()
  }

  test("KMV sketch aggregates map-side (ObjectHashAggregate, no " +
      "distinct-hash shuffle)") {
    val q = graft.queries.PipelineQueries.sketchKmv(
      spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(800))
    assert(plan.contains("partial_kmvaggregator") ||
      plan.toLowerCase.contains("partial_kmv"), plan.take(800))
  }

  test("tf-idf and unigram-LM plans broadcast scalars, aggregate " +
      "partially") {
    for (q <- Seq(
        graft.queries.PipelineQueries.textTfidfTop(
          spark, "/root/testdata/sf0.001"),
        graft.queries.PipelineQueries.textUnigramLogprob(
          spark, "/root/testdata/sf0.001"))) {
      val plan = q.queryExecution.executedPlan.toString
      // the 1-row scalar (doc count / token total) broadcasts — the
      // corpus side never shuffles for it
      assert(plan.contains("BroadcastExchange") ||
        plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
      // tf/df/frequency aggregations combine map-side before exchanging
      assert(plan.contains("partial_count") || plan.contains("partial"),
        plan.take(600))
    }
  }

  test("layout-2 parquet store registration schedules zero Spark jobs") {
    // registration resolves latestTime/timeCoords/WMTS dimensions from
    // footer statistics (ParquetWindow.statsTimeAxis) — at 100 TB a
    // distinct() over the fact table schedules a task per file to
    // recover a few KB the footers already hold
    val dir = java.nio.file.Files.createTempDirectory("graft-reg0").toString
    val grid = CubeGrid(64, 32, 0.0, 40.0, 0.1, latAscending = true)
    val cube = Cube.synthetic(spark, grid, 3, Seq("v0"))
    CubeIngest.writeCube(cube, s"$dir/cube", tileSize = 16)
    val (ds, jobs) = jobsDuring {
      val opened = CubeIngest.open(spark, s"$dir/cube")
      val d = graft.server.RegisteredDataset("c", "C", opened, None)
      // force the lazily-resolved registration surface
      assert(d.timeCoords.size == 3)
      d.latestTime
      d.timeLabels
      d
    }
    assert(jobs.isEmpty,
      s"layout-2 registration scheduled ${jobs.size} Spark job(s)")
    assert(ds.timeCoords == ds.cube.timeAxis.get)
  }

  test("emb_kmeans assigns via the codegen broadcast-centroid kernel") {
    val q = graft.queries.PipelineQueries.embKmeans(
      spark, "/root/testdata/sf0.001")
    q.collect() // finalize THIS frame's adaptive plan (a sink executes
    // a copy, leaving q.queryExecution un-finalized)
    val plan = q.queryExecution.executedPlan.toString
    // the assignment distance kernel is a codegen expression inside a
    // whole-stage span — the data is never shuffled to be assigned
    // (centroids broadcast as driver state, MLlib's Lloyd's shape)
    assert(plan.linesIterator.exists(l =>
      l.contains("sq_dist_to_centroids") && l.contains("*(")),
      plan.take(1200))
  }

  test("dsir_importance scans the corpus once (persisted kernel " +
      "counts) and broadcasts the bucket table") {
    val prev = graft.pipeline.Caching.inspectLazyPlans
    graft.pipeline.Caching.inspectLazyPlans = true
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.dsirImportance(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan.toString
      // the per-(doc, bucket) kernel counts persist; both consumers
      // read the cache, so the corpus text is scanned exactly once and
      // the word-level exchange of the old lambda form is gone
      assert(plan.contains("dsir_buckets"), plan.take(1200))
      // both consumers read the cache (>= 2 InMemoryTableScans); the
      // FileScan of text appears only inside the cached-plan printout
      assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
        plan.take(1200))
      // the ≤256-row log-ratio table broadcasts back
      assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    } finally {
      graft.pipeline.Caching.inspectLazyPlans = prev
      spark.sharedState.cacheManager.clearCache()
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("quality_gate_p75 aggregates the percentile map-side and " +
      "broadcasts the threshold scalar") {
    val q = graft.queries.PipelineQueries.qualityGateP75(
      spark, "/root/testdata/sf0.001")
    val plan = q.queryExecution.executedPlan.toString
    // exact percentile over the ROUNDED score domain (≤1e6+1 distinct
    // values) aggregates a value→count map partially per partition —
    // bounded memory at any corpus size — and only the tiny buffers
    // cross the SinglePartition exchange
    assert(plan.contains("partial_percentile"), plan.take(1200))
    // the 1-row threshold broadcasts; the corpus never shuffles for it
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(1200))
  }

  test("pack_sequences reuses the per-source window partitioning for " +
      "the final aggregate (one hash shuffle)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.packSequences(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val hashExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("hashpartitioning") =>
          e
      }
      // the groupBy(source) sits on the window's hashpartitioning(source)
      // — no second hash exchange (the output orderBy adds only a range
      // partitioning)
      assert(hashExchanges.size == 1,
        s"expected 1 hash exchange, got ${hashExchanges.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dedup_substring shuffles span hashes, never span text") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.dedupSubstring(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach(e =>
        assert(!e.child.output.exists(a =>
          a.name == "span" || a.name == "text" || a.name == "w"),
          e.child.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sample_cluster_balanced inlines the driver-state rate table: " +
      "no join, one aggregate exchange") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.sampleClusterBalanced(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // rates are literals (driver state like the centroids) — the
      // final plan must not join or re-scan for them
      assert(!s.contains("Join"), s.take(1200))
      assert(s.linesIterator.count(_.contains("FileScan parquet")) == 1,
        "one corpus scan in the final plan")
      // per-cluster Bernoulli thresholding, not a per-cluster rank: the
      // only exchanges are the 8-group aggregate + the output sort
      val hashExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("hashpartitioning") =>
          e
      }
      assert(hashExchanges.size == 1,
        s"expected 1 hash exchange, got ${hashExchanges.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dedup_incremental probes the bloom filter inside codegen, " +
      "broadcasts both verify joins, and never shuffles text") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.dedupIncremental(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // the prefilter is the codegen expression, not a UDF
      assert(s.contains("bloom_might_contain"), s.take(1500))
      // exact verification joins are broadcasts: the old corpus is
      // never hash-partitioned, and no sort-merge join anywhere
      assert(s.contains("BroadcastHashJoin"), s.take(1500))
      assert(!s.contains("SortMergeJoin"), s.take(1500))
      // no exchange carries document text — hashes only
      plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }.foreach(e =>
        assert(!e.child.output.exists(_.name == "text"),
          e.child.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("quality_logreg inference inlines driver-state weights: one " +
      "scan, no join, map-side partial aggregation") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.qualityLogreg(
        spark, "/root/testdata/sf0.001")
      val s = q.queryExecution.executedPlan.toString
      // weights are literals (driver state like the centroids): the
      // scoring pass is a pure scan + 20-group aggregate
      assert(!s.contains("Join"), s.take(1200))
      assert(s.linesIterator.count(_.contains("FileScan parquet")) == 1,
        "one corpus scan in the inference plan")
      assert(s.contains("partial_"), s.take(1200))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dedup_paragraph shuffles 128-bit hashes, never paragraph text") {
    // AQE wraps exchanges in query stages — plan statically (planning
    // reads the flag lazily, so force the plan inside the try) for the
    // shape assertion
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.dedupParagraph(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      assert(exchanges.nonEmpty)
      // the window exchange partitions on the hash pair...
      assert(plan.toString.contains("hashpartitioning(h1"))
      // ...and NO exchange in the plan carries the raw paragraph string
      exchanges.foreach(e =>
        assert(!e.child.output.exists(_.name == "para"),
          e.child.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("shuffle_epoch enumerates globally without a corpus-wide " +
      "single-partition window") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.shuffleEpoch(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      // two windows: the per-bucket rank (partitioned — corpus scale)
      // and the bucket-offset cumsum (global, but over the ≤256-row
      // aggregated count table, never over document rows)
      assert(windows.size == 2, windows.map(_.partitionSpec).toString)
      val (global, bucketed) = windows.partition(_.partitionSpec.isEmpty)
      assert(global.size == 1 && bucketed.size == 1)
      assert(!global.head.output.exists(_.name == "doc_id"),
        "the single-partition window must see only bucket aggregates: " +
          global.head.output.map(_.name).mkString(","))
      assert(global.head.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }.nonEmpty, "offset window must sit above the bucket count aggregate")
      // the offsets table joins back by broadcast, not shuffle
      assert(plan.collectFirst {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }.nonEmpty, plan.toString.take(1200))
      // verify the bucketed enumeration equals the global ordering
      val got = q.collect()
      assert(got.map(_.getLong(0)).toSeq == got.indices.map(_.toLong),
        "positions must be 0..n-1")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("select_learnability broadcasts the corpus-stats scalar and " +
      "ranks under a partitioned window") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.selectLearnability(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // the mean/std row joins every doc via broadcast (single-row
      // scalar — the correct cross join), never a shuffle
      assert(s.contains("BroadcastNestedLoopJoin"), s.take(1200))
      // every corpus-scale window is partitioned by source
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
        windows.map(_.partitionSpec).toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("emb_rp_project is a pure scan: codegen mat_vec_product kernel, " +
      "no shuffle before the output sort") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.embRpProject(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      assert(s.contains("mat_vec_product"), s.take(1200))
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      // only the deterministic output orderBy repartitions (range);
      // the projection itself never shuffles the corpus
      assert(exchanges.forall(
        _.outputPartitioning.toString.contains("rangepartitioning")),
        exchanges.map(_.outputPartitioning).toString)
      // the kernel projection sits inside a whole-stage-codegen span
      // (rendered as a `*(n)` marker on its plan line)
      assert(s.linesIterator.exists(l =>
        l.contains("mat_vec_product") && l.contains("*(")), s.take(600))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sim_topk_rp shortlists in projected space without shuffling " +
      "embeddings or projections") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.simTopKRp(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      // the stage-1 window and output sort shuffle (query, neighbor,
      // score) triples only; vectors stay inside scan-side projects
      // and broadcasts
      exchanges.foreach(e =>
        assert(!e.child.output.exists(a =>
          a.name == "embedding" || a.name == "p" || a.name == "pq" ||
            a.name == "pc" || a.name == "eq" || a.name == "ec"),
          e.child.output.map(_.name).mkString(",")))
      // both join stages broadcast the small side
      val bhj = plan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.size >= 2, s"expected >=2 broadcast joins, got ${bhj.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sim_topk_pq encodes and scores inside codegen; vectors and " +
      "codes never ride a shuffle") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.simTopKPq(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // the encode kernel and the ADC lookup both sit inside
      // whole-stage-codegen projections (lines prefixed *(n))
      assert(s.linesIterator.exists(l =>
        l.contains("pq_encode") && l.contains("*(")), s.take(1500))
      assert(s.linesIterator.exists(l =>
        l.contains("adc_lookup") && l.contains("*(")), s.take(1500))
      // shuffles carry only (query, neighbor, score) triples — the
      // 8-code arrays stay scan-side, float vectors stay in broadcasts
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      exchanges.foreach(e =>
        assert(!e.child.output.exists(a =>
          a.name == "embedding" || a.name == "codes" ||
            a.name == "eq" || a.name == "ec"),
          e.child.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ccnet_buckets reuses the per-doc score aggregate for " +
      "thresholds and labeling, and broadcasts the threshold table") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.ccnetBuckets(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // the ppl aggregate feeds both the tertile branch and the
      // labeling branch — canonical subtrees, so one exchange computes
      assert(s.contains("ReusedExchange"), s.take(1500))
      // the per-source threshold table broadcasts back
      assert(s.contains("BroadcastHashJoin"), s.take(1500))
      // document text never rides an exchange
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      exchanges.foreach(e =>
        assert(!e.child.output.exists(_.name == "text"),
          e.child.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("decontaminate_semantic broadcasts the benchmark vectors; no " +
      "corpus-side shuffle carries an embedding") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.decontaminateSemantic(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // non-equi cosine condition against a broadcast bench list —
      // the corpus streams through in one scan
      assert(s.contains("BroadcastNestedLoopJoin"), s.take(1500))
      // flagged rows pre-aggregate map-side: only (vec_id, count, max)
      // triples shuffle, never a vector
      assert(s.contains("partial_count") || s.contains("partial"),
        s.take(1500))
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      exchanges.foreach(e =>
        assert(!e.child.output.exists(a =>
          a.name == "embedding" || a.name == "b_vec"),
          e.child.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("tokenize_learned applies the learned table in one codegen " +
      "scan: no join, map-side partial aggregation") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.tokenizeLearned(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // the learned merges are driver state riding the plan as a
      // reference object — application must not join or re-scan
      assert(!s.contains("Join"), s.take(1200))
      assert(s.linesIterator.count(_.contains("FileScan parquet")) == 1,
        "one corpus scan in the application plan")
      assert(s.linesIterator.exists(l =>
        l.contains("bpe_token_count_table") && l.contains("*(")),
        s.take(1500))
      assert(s.contains("partial_count") || s.contains("partial_sum"),
        s.take(1200))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("text_boilerplate scans the corpus once and shuffles only " +
      "paragraph hashes") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.textBoilerplate(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // the per-source instance counts AND the corpus-wide document
      // frequency both derive from the single exploded scan — the
      // window over (h1, h2) runs on the distinct-paragraph table, not
      // a second corpus pass
      assert(s.linesIterator.count(_.contains("FileScan parquet")) == 1,
        "one corpus scan:\n" + s.take(1200))
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach(e =>
        assert(!e.child.output.exists(a =>
          a.name == "para" || a.name == "text" || a.name == "words"),
          e.child.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("text_bigram_logprob reuses the bigram-instance exchange for " +
      "model and probe, and the unigram aggregate for both count roles") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.textBigramLogprob(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // two passes total — one bigram-side scan (shared by the model
      // aggregate and the scoring probe through ReuseExchange) and one
      // token-side scan (shared by cu1/cu2/total) — never three
      assert(s.linesIterator.count(_.contains("FileScan parquet")) == 2,
        "two corpus scans (bigram side + token side):\n" + s.take(1500))
      assert(s.contains("ReusedExchange"), s.take(1500))
      // raw document text never rides an exchange; only (doc_id, w1,
      // w2, counts) rows do — the LM join key is the bigram itself
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      exchanges.foreach(e =>
        assert(!e.child.output.exists(a =>
          a.name == "text" || a.name == "w" || a.name == "bg"),
          e.child.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bm25_topk prunes to query-vocabulary postings on the scan, " +
      "shares the tf exchange with the df branch, and partial-top-ks") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.bm25Topk(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // the tf postings exchange is shared with the df branch (df is a
      // count OVER tf, kept structurally identical — the dsir lesson),
      // so the corpus text is scanned twice total (postings + the
      // N/avgdl stats scan), never three times
      assert(s.contains("ReusedExchange"),
        "tf exchange must be shared with the df branch:\n" + s.take(1500))
      assert(s.linesIterator.count(_.contains("FileScan parquet")) == 2,
        "two corpus scans (postings + stats):\n" + s.take(1500))
      // the single ranking window is partitioned by query AND preceded
      // by a PARTIAL WindowGroupLimit: each input partition keeps only
      // its local top-k before the query_id exchange, so no task ever
      // sorts a query's full posting list
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.size == 1 && windows.forall(_.partitionSpec.nonEmpty),
        windows.map(_.partitionSpec).toString)
      assert(s.contains("WindowGroupLimit") && s.contains("Partial"),
        "partial per-partition top-k missing:\n" + s.take(1500))
      // raw text never rides an exchange
      plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }.foreach(e => assert(!e.child.output.exists(_.name == "text"),
        e.child.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("overlap_matrix shuffles only 128-bit paragraph hashes and " +
      "expands pairs after the bounded collect_set") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.overlapMatrix(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }.foreach(e => assert(!e.child.output.exists(a =>
        a.name == "para" || a.name == "text"),
        e.child.output.map(_.name).mkString(",")))
      // pair expansion (the generator) sits ABOVE the hash aggregate —
      // it runs on ≤|sources|-wide arrays, never on corpus rows
      val gen = plan.collectFirst {
        case g: org.apache.spark.sql.execution.GenerateExec
            if g.output.exists(_.name == "p") => g
      }
      assert(gen.nonEmpty, "pair-expansion generator missing")
      assert(gen.get.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }.nonEmpty, "pair expansion must run above the collect_set aggregate")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sketch_cms_heavy builds a constant-size sketch: the cms " +
      "exchange carries only (row, cell) counts, probes broadcast") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.PipelineQueries.sketchCmsHeavy(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val s = plan.toString
      // sketch-build shuffle: map-side partial combine into <=1024
      // (r, cell) groups — no token string may ride that exchange (the
      // exact-count branch carries only the 10 candidate tokens)
      val cmsEx = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.child.output.exists(_.name == "cell") => e
      }
      assert(cmsEx.nonEmpty, s.take(1200))
      cmsEx.foreach(e => assert(
        !e.child.output.exists(a => a.name == "t" || a.name == "text"),
        e.child.output.map(_.name).mkString(",")))
      // the sketch joins the candidate probes via broadcast
      assert(s.contains("BroadcastHashJoin"), s.take(1200))
      // two corpus scans: sketch build + pruned exact branch
      assert(s.linesIterator.count(_.contains("FileScan parquet")) == 2,
        s.take(1200))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sketch_hll_distinct: partial HLL registers build map-side; " +
      "the per-type exchange carries one 1 KiB array per group") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.SketchQueries.sketchHll(
        spark, "/root/testdata/sf0.001")
      val s = q.queryExecution.executedPlan.toString
      // typed-Aggregator sketches plan as ObjectHashAggregate with a
      // partial before the exchange — the constant-state contract
      assert(s.contains("partial_hllaggregator"), s.take(1500))
      assert(s.contains("ObjectHashAggregate"), s.take(1500))
      // the raw key string never rides an exchange: hashing is map-side
      val plan = q.queryExecution.executedPlan
      plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          => e
      }.foreach(e => assert(
        !e.child.output.exists(a => a.name == "k" || a.name == "text"),
        e.child.output.map(_.name).mkString(",")))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ngram_hot: the corpus-wide pass-1 exchange carries only " +
      "(hash, doc_id) longs; n-gram text shuffles only for candidates") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.LmQueries.ngramHot(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val exes = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          => e
      }
      val withText = exes.filter(_.child.output.exists(a =>
        a.name == "ng" || a.name == "text"))
      val hashOnly = exes.filter(_.child.output.forall(a =>
        a.dataType == org.apache.spark.sql.types.LongType))
      // pass 1 (corpus-wide) must be long-only; text exchanges exist
      // only on the candidate side (strictly fewer than all exchanges)
      assert(hashOnly.nonEmpty, plan.toString.take(1500))
      assert(withText.size < exes.size, plan.toString.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("graph_communities: argmax is an aggregate, not a rank window") {
    val prev = graft.pipeline.Caching.inspectLazyPlans
    graft.pipeline.Caching.inspectLazyPlans = true
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the DISTRIBUTED form: the wrapper dispatches dense at test SF
      val q = graft.queries.PipelineQueries.graphCommunitiesDistributed(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, "LPA argmax must not plan a window")
    } finally {
      graft.pipeline.Caching.inspectLazyPlans = prev
      spark.sharedState.cacheManager.clearCache()
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("compaction_plan bins respect the target size contract") {
    // every bin's bytes minus its LAST file stays under the target
    // (cumsum binning can overflow only by the final file), bins are
    // contiguous per source, and file ranges never overlap
    val rows = graft.queries.AnalyticsQueries.compactionPlan(
      spark, "/root/testdata/sf0.01").collect()
    val target = 4096L
    rows.groupBy(_.getString(0)).foreach { case (_, bins) =>
      val sorted = bins.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == sorted.indices.map(_.toLong),
        "bins not contiguous")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(5) < b.getLong(4), "file ranges overlap")
        case _ =>
      }
      // bin_bytes - (bytes of last file) < target ⇒ conservatively:
      // every bin except possibly the last must exceed 0 and a bin
      // that is not the overflow case stays <= target + max file size
      sorted.dropRight(1).foreach { r =>
        assert(r.getLong(3) >= target || r.getLong(2) >= 1,
          "non-final bin closed before reaching target")
      }
    }
    assert(rows.nonEmpty)
  }

  test("fuzzy_join_parts joins on deletion signatures — hash join, " +
      "no quadratic cross join anywhere") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.Relational.fuzzyJoinParts(
        spark, "/root/testdata/sf0.001")
      val s = q.queryExecution.executedPlan.toString
      assert(!s.contains("CartesianProduct") &&
        !s.contains("BroadcastNestedLoopJoin"),
        "signature join degenerated to a cross join:\n" + s.take(1500))
      assert(s.contains("sig"), s.take(800))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("registry-wide audit: no unsanctioned single-partition window, " +
      "no raw-text/embedding column on any exchange (broadcasts " +
      "DISABLED), no cartesian join, no collapsed plan") {
    // One planning pass over every registered query, checking the
    // three silent scale-killers:
    //  1. a global (empty-partitionSpec) window funnels the whole
    //     input through ONE task — only the two ≤256-row bucket
    //     cumsums (dsir_importance, shuffle_epoch) are sanctioned;
    //  2. a shuffle whose rows carry document text / word arrays /
    //     embeddings ships the corpus body over the network — the
    //     dedup contract is that exchanges carry hashes and ids;
    //  3. a cartesian product is quadratic no matter what surrounds it
    //     (scalar broadcasts plan as BroadcastNestedLoopJoin, which
    //     stays allowed).
    // An op added later that trips any of these must fail HERE,
    // loudly, not as a log warning nobody reads.
    //
    // Two loopholes this audit previously had, now closed:
    //  - autoBroadcastJoinThreshold is forced to -1, so a join that
    //    only planned as a broadcast because sf0.001 is tiny now plans
    //    the way it would at 100 TB (SortMergeJoin) — a vector column
    //    riding such a join's shuffle is no longer hidden by
    //    small-scale broadcast planning. Explicit broadcast() hints
    //    (driver-state / provably bounded sides) survive, which is the
    //    point: bounded sides must SAY so in the code.
    //  - Caching.inspectLazyPlans is on, so operators that eagerly
    //    localCheckpoint (graph_pagerank/hits, dsir, dedup_incremental)
    //    expose their REAL plan instead of a collapsed
    //    `Scan ExistingRDD` the checks would vacuously pass; a
    //    collapsed-plan guard backstops any future direct checkpoint.
    val allowedGlobals = Map("dsir_importance" -> 1, "shuffle_epoch" -> 1,
      // cumulative sums over the 10-row bucket aggregate (Heaps curve)
      "vocab_growth" -> 1,
      // rank over the distributed-TakeOrdered top-1000 vocabulary rows
      // (bounded by the LIMIT, sits above the vocab aggregate)
      "text_zipf_fit" -> 1,
      // EWMA lag-chain over the DAILY revenue aggregate (one row per
      // calendar day — metadata-sized at any corpus scale)
      "smooth_ewma" -> 1,
      // skyline cumulative max over the distinct-token-count aggregate
      // (bounded by the VALUE DOMAIN of doc lengths, not corpus rows)
      "skyline_pareto" -> 1,
      // rolling median over the same daily aggregate as smooth_ewma
      "smooth_rolling_median" -> 1,
      // negatives-below cumsum over the bounded 6dp score-domain
      // aggregate + ROC cumsum over the 10-row bin rollup
      "roc_auc" -> 2,
      // global-CDF cumsum over the ~17-row length-bin aggregate
      // (bounded by the n_chars/32 value domain, not corpus rows)
      "score_quantile_norm" -> 1)
    val heavyCols = Set("text", "para", "words", "span", "embedding")
    // Intrinsic candidate co-location: these ops ship CANDIDATE vectors
    // to their cell/bucket to be compared there — that exchange is the
    // algorithm (population per cell/bucket is bounded by construction:
    // IvfIndex caps cells at 4×128 and re-splits; LSH bands are
    // per-signature buckets). Everything else must keep vectors off
    // exchanges even under forced-shuffle planning.
    val allowedHeavyExchanges = Map(
      "dedup_semantic" -> 2, // a/b sides of the within-cell pair join
      "sim_ann_ivf" -> 1,    // corpus side of the cell-probe join
      "dedup_emb_cosine" -> 2, // a/b sides of the routed pair join
      // the un-dispatched route twins inherit their route's shape:
      // banded = a/b sides of the LSH-band join, cells = a/b sides of
      // the within-cell join (dedup_semantic's sanctioned shape)
      "dedup_emb_cosine_banded" -> 2,
      "dedup_emb_cosine_cells" -> 2,
      // query/corpus sides of the two cell-probe joins (kAB + kBA);
      // at scale both sides read the cell-partitioned sidecar, so the
      // exchange is the co-location step, not a corpus re-shuffle
      "bitext_mine_ivf" -> 4,
      "knn_classify" -> 2,   // query/labeled sides of the cell join
      "hard_negatives" -> 2) // anchor/candidate sides of the cell join
    // Sanctioned RDD-terminal plans: operators whose final stage is a
    // deliberate per-partition imperative kernel (mapPartitions), so
    // their SQL plan is an RDD scan BY DESIGN — each has its own
    // plan/behavior spec elsewhere in this file or its operator spec.
    val allowedRddTerminal = Set(
      "dedup_jaccard",     // dense-path popcount kernel (jaccardPairsBitmap)
      "dedup_containment", // same kernel, containment scoring
      // dense-dispatch driver suffix sort under the 2^22-position
      // guard (the distributed twin keeps a full inspectable plan and
      // is audited as substring_repeat_profile_dist right below)
      "substring_repeat_profile",
      // dense-dispatch driver CSR fixpoints under the 2^22-pair guard
      // (BipartiteFixpoint / DenseGraph.communitiesDense); each keeps
      // a fully inspectable distributed twin audited as graph_*_dist
      "graph_pagerank", "graph_hits", "graph_bfs_levels",
      "graph_kcore_peel", "graph_communities", "assoc_rules",
      "graph_triangles", "graph_link_predict")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    graft.pipeline.Caching.inspectLazyPlans = true
    try {
      SparkEntry.specs.foreach { q =>
        val plan =
          q.run(spark, "/root/testdata/sf0.001").queryExecution.executedPlan
        val globals = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
        assert(globals.size == allowedGlobals.getOrElse(q.name, 0),
          s"${q.name}: unexpected single-partition window(s); " +
            "either partition it or, if it provably runs over a tiny " +
            "aggregate, add it to the allowlist with a justification: " +
            globals.map(_.output.map(_.name).mkString("[", ",", "]"))
              .mkString("; "))
        // the sanctioned ones must sit above an aggregate (bucket
        // counts), never directly over corpus-scale rows; a persisted
        // intermediate is looked THROUGH (the cached plan is where the
        // bounding aggregate lives — e.g. roc_auc's score-domain table)
        def hasAggBeneath(p: org.apache.spark.sql.execution.SparkPlan)
            : Boolean = p.exists {
          case _: org.apache.spark.sql.execution.aggregate
            .HashAggregateExec => true
          case s: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec => hasAggBeneath(s.relation.cachedPlan)
          case _ => false
        }
        globals.foreach { w =>
          assert(hasAggBeneath(w),
            s"${q.name}: global window not above an aggregate")
          assert(!w.output.exists(a => a.name == "doc_id" || a.name == "text"),
            s"${q.name}: global window sees corpus-row columns: " +
              w.output.map(_.name).mkString(","))
        }
        val heavy = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.child.output.exists(a => heavyCols(a.name) ||
                a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
                a.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
            => e
        }
        assert(heavy.size <= allowedHeavyExchanges.getOrElse(q.name, 0),
          s"${q.name}: exchange carries a heavy (named or " +
            "array/map-typed) column under forced-shuffle planning: " +
            heavy.map(_.child.output.map(a =>
              a.name + ":" + a.dataType.simpleString).mkString(","))
              .mkString("; "))
        assert(plan.collectFirst {
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec =>
            c
        }.isEmpty, s"${q.name}: cartesian product in plan")
        // collapsed-plan guard: a plan that reaches neither a file scan
        // nor a join/aggregate/window but does scan a pre-computed RDD
        // is one the three checks above cannot see inside
        val hasRddScan = plan.collectFirst {
          case r: org.apache.spark.sql.execution.RDDScanExec => r
        }.nonEmpty
        val hasRealOp = plan.exists {
          case _: org.apache.spark.sql.execution.FileSourceScanExec => true
          case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            => true
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec => true
          case _: org.apache.spark.sql.execution.aggregate
            .BaseAggregateExec => true
          case _: org.apache.spark.sql.execution.window.WindowExec => true
          case _ => false
        }
        assert(!hasRddScan || hasRealOp || allowedRddTerminal(q.name),
          s"${q.name}: plan collapsed to a bare ExistingRDD scan — the " +
            "audit cannot inspect it:\n" + plan.toString.take(1200))
      }
    } finally {
      graft.pipeline.Caching.inspectLazyPlans = false
      // inspect mode skips the operators' own unpersists — drop
      // whatever the planning pass left cached
      spark.sharedState.cacheManager.clearCache()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("loadOrBuild persists the (h1, h2) PROJECTION distinct: an old " +
      "frame with ride-along columns cannot plant duplicate pairs that " +
      "a LEFT join against the index would multiply") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_didx_p").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    try {
      // same (h1, h2) twice with different ride-along values: a
      // whole-row distinct would keep both
      val old = Seq((1L, 10L, "a"), (1L, 10L, "b"), (2L, 20L, "a"))
        .toDF("h1", "h2", "extra")
      val (_, index) = graft.pipeline.DedupIndex.loadOrBuild(
        spark, sf("sf0.001"), "projtest-v1", old, "h1", 10L)
      val rows = index.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      assert(rows == Seq((1L, 10L), (2L, 20L)))
    } finally {
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("dedup_incremental persists the snapshot sidecar: the second " +
      "batch launches zero jobs over the old corpus") {
    // Round-9 "Missing #4": an every-snapshot pipeline must not rescan
    // the kept corpus per batch. First invocation builds + persists
    // bloom and hash index; the second invocation's BUILD phase (bloom
    // load) must run no Spark job at all, and its plan's exact-verify
    // side must scan the sidecar hash index, not documents.parquet.
    val dir = java.nio.file.Files.createTempDirectory("graft_didx").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    val d = "/root/testdata/sf0.001"
    try {
      val r1 = graft.queries.PipelineQueries.dedupIncremental(spark, d)
        .collect()
      // static plan for the scan inspection below (AQE hides children)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (q2, jobs) = jobsDuring(
        graft.queries.PipelineQueries.dedupIncremental(spark, d))
      // stage names of every job the build phase ran
      val build = jobs.map(_.stageInfos.map(_.name).mkString(";"))
      // the ONLY job the build phase may run is the new-batch parquet
      // schema-inference footer read — no bloom aggregation, no
      // old-corpus scan, no sidecar rewrite
      assert(build.forall(_.startsWith("parquet at")),
        s"sidecar miss: non-metadata job(s) during the second batch's " +
          s"build: ${build.mkString("; ")}")
      assert(build.size <= 1,
        s"expected at most the schema-inference job, got: " +
          build.mkString("; "))
      val scans = q2.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }
      assert(scans.exists(_.contains(dir)),
        s"verify side does not read the sidecar hash index: $scans")
      assert(scans.count(_.contains("documents.parquet")) == 2,
        s"old corpus still scanned beyond the two new-batch reads: $scans")
      assert(q2.collect() === r1, "sidecar reuse changed the result")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("dedup_incremental_minhash persists the near-dup sidecar: the " +
      "second batch runs zero old-corpus jobs, hash-only exchanges") {
    // Round-13 verdict ask #4: the near-dup quadrant of the
    // every-snapshot pipeline. First invocation builds + persists the
    // band index and the shingle-hash table; the second invocation's
    // build phase must launch no Spark job over the old corpus, its
    // candidate-join and exact-verify sides must scan the sidecar
    // parquet (never old documents text), and no exchange may carry
    // the text column.
    val dir = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    val d = "/root/testdata/sf0.01"
    try {
      val r1 = graft.queries.PipelineQueries
        .dedupIncrementalMinhash(spark, d).collect()
      assert(r1.nonEmpty, "fixture lost its cross-split near-dup pairs")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // lazy-plan mode: without it materializeAndRelease localCheckpoints
      // (runs) the whole query at construction, drowning the build-phase
      // job assertion below in execution jobs
      graft.pipeline.Caching.inspectLazyPlans = true
      val (q2, jobs) = jobsDuring(graft.queries.PipelineQueries
        .dedupIncrementalMinhash(spark, d))
      // stage names of every job the build phase ran
      val build = jobs.map(_.stageInfos.map(_.name).mkString(";"))
      assert(build.forall(_.startsWith("parquet at")),
        s"sidecar miss: non-metadata job(s) during the second batch's " +
          s"build: ${build.mkString("; ")}")
      assert(build.size <= 1,
        s"expected at most the schema-inference job, got: " +
          build.mkString("; "))
      val scans = q2.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }
      assert(scans.count(_.contains(dir)) >= 2,
        s"band/shingle sides do not read the sidecar: $scans")
      // the only documents.parquet read is the NEW batch's shingle scan
      // (persisted: one materialization feeds bands, counts and verify)
      assert(scans.count(_.contains("documents.parquet")) <= 1,
        s"old corpus still scanned beyond the new-batch read: $scans")
      q2.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }.foreach(e =>
        assert(!e.child.output.exists(_.name == "text"),
          e.child.output.map(_.name).mkString(",")))
      assert(q2.collect() === r1, "sidecar reuse changed the result")
    } finally {
      graft.pipeline.Caching.inspectLazyPlans = false
      spark.sharedState.cacheManager.clearCache() // lazy mode released none
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("incremental near-dup CLOSES the snapshot chain: batch 3 " +
      "candidates against old + batch-1 + batch-2 survivors, with " +
      "zero old-corpus rescans and crash-safe segment appends") {
    // Round-14 verdict ask #3: the sidecar used to be built once from
    // the old corpus — kept NEW docs were never folded in, so batch
    // N+2 could not see batch N+1. incrementalNearDupBatch appends
    // each batch's survivors as a marker-protected segment; this test
    // drives three batches and pins every edge of the contract.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ndseg").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    val corpus = java.nio.file.Files
      .createTempDirectory("graft_ndcorp").toString
    try {
      def doc(id: Long, seed: Long): (Long, String) = {
        // 30 distinct tokens per doc; near-dup = same seed
        (id, (0 until 30).map(k => s"w${seed * 100 + k}").mkString(" "))
      }
      val old = Seq(doc(1, 1), doc(2, 2), doc(3, 3))
      old.toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$corpus/old.parquet")
      val oldDf = spark.read.parquet(s"$corpus/old.parquet")
      def run(batch: Seq[(Long, String)], id: String) =
        graft.pipeline.Dedup.incrementalNearDupBatch(spark,
          s"$corpus/old.parquet", "nd-chain-test", oldDf,
          batch.toDF("doc_id", "text"), "doc_id", "text", id,
          threshold = 0.5)
      // batch 1: doc 11 dups OLD doc 2; doc 12 is fresh (kept)
      val p1 = run(Seq(doc(11, 2), doc(12, 12)), "b1")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p1 == Set((11L, 2L)), s"batch 1 pairs: $p1")
      // batch 2: doc 21 dups batch-1 SURVIVOR 12 (invisible without
      // the fold-in); doc 22 fresh
      val p2 = run(Seq(doc(21, 12), doc(22, 22)), "b2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p2 == Set((21L, 12L)),
        s"batch 2 did not see batch 1's survivor: $p2")
      // RETRY of batch 2 (its segment already landed): the index load
      // excludes seg-b2, so the retry reports the SAME pairs — no
      // (22, 22) self-pair — and re-appends the same survivor set
      // instead of wiping the segment
      val p2r = run(Seq(doc(21, 12), doc(22, 22)), "b2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p2r == p2, s"batch-2 retry diverged: $p2r")
      // batch 3: doc 31 dups batch-2 survivor 22, doc 32 dups OLD doc
      // 3, doc 33 fresh — the chain spans base + both segments. Note
      // 21 was a DUP in batch 2, so it must NOT be in the index (a
      // seed-12 match may only hit survivor 12).
      // static plan for the scan inspection below (AQE hides children)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      graft.pipeline.Caching.inspectLazyPlans = true
      val q3 = try run(Seq(doc(31, 22), doc(32, 3), doc(33, 33)), "b3")
        finally { graft.pipeline.Caching.inspectLazyPlans = false }
      val p3 = q3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p3 == Set((31L, 22L), (32L, 3L)), s"batch 3 pairs: $p3")
      // zero old-corpus rescans: batch 3's plan reads the sidecar
      // (base + segments), never old.parquet. The pair frame is
      // persisted inside the operator, so walk THROUGH cached
      // relations (and any AQE wrapper) to the real file scans.
      def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[String] = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          Seq(f.relation.location.rootPaths.mkString(","))
        case im: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec =>
          fileScans(im.relation.cachedPlan)
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec =>
          fileScans(a.executedPlan)
      }.flatten
      val scans = fileScans(q3.queryExecution.executedPlan)
      assert(scans.exists(_.contains("seg-b1")) &&
        scans.exists(_.contains("seg-b2")),
        s"batch 3 does not union the appended segments: $scans")
      assert(!scans.exists(_.contains("old.parquet")),
        s"batch 3 still rescans the old corpus: $scans")
      // crash-safety: a segment without its marker is invisible
      val key = graft.pipeline.DedupIndex.snapshotKey(spark,
        s"$corpus/old.parquet", "nd-chain-test")
      val crashSh = graft.pipeline.Dedup.shingles(
        Seq(doc(99, 99)).toDF("doc_id", "text"), "doc_id", "text")
      crashSh.write.mode("overwrite").parquet(
        s"$dir/$key/seg-crashed/shingles")
      graft.pipeline.Dedup.minhashBands(crashSh).write.mode("overwrite")
        .parquet(s"$dir/$key/seg-crashed/bands")
      // no _COMPLETE marker → loadNearDup must ignore seg-crashed
      val (bandsDf, _) = graft.pipeline.DedupIndex
        .loadNearDup(spark, key).get
      val ids = bandsDf.select("id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(!ids.contains(99L),
        s"markerless segment leaked into the index: $ids")
      // base(1,2,3) + kept: b1→12, b2→22, b3→(33, and 31/32 are dups)
      assert(ids == Set(1L, 2L, 3L, 12L, 22L, 33L),
        s"index ids after three batches: $ids")
      // complete segments are IMMUTABLE: appending different content
      // under an existing id is a no-op (publishing new content needs
      // a new id), so a crashed retry can never un-commit a segment
      graft.pipeline.DedupIndex.appendNearDup(spark, key, "b1",
        graft.pipeline.Dedup.minhashBands(crashSh), crashSh)
      val ids2 = graft.pipeline.DedupIndex.loadNearDup(spark, key).get
        ._1.select("id").distinct().collect().map(_.getLong(0)).toSet
      assert(ids2 == ids, s"complete segment was rewritten: $ids2")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sharedState.cacheManager.clearCache()
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpus))
    }
  }

  test("near-dup sidecar compaction folds segments into one root and " +
      "the snapshot chain survives it") {
    // Round-15 verdict ask #4: the CCNet loop appends one seg-* dir
    // per batch forever; compactNearDup folds base + complete
    // segments into ONE compaction generation (staged + renamed, old
    // dirs immutable until an explicit prune) so the union read stays
    // a short driver listing at production batch cadence.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ndcmp").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    val corpus = java.nio.file.Files
      .createTempDirectory("graft_ndcmpc").toString
    try {
      def doc(id: Long, seed: Long): (Long, String) =
        (id, (0 until 30).map(k => s"w${seed * 100 + k}").mkString(" "))
      Seq(doc(1, 1), doc(2, 2), doc(3, 3)).toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$corpus/old.parquet")
      val oldDf = spark.read.parquet(s"$corpus/old.parquet")
      def run(batch: Seq[(Long, String)], id: String) =
        graft.pipeline.Dedup.incrementalNearDupBatch(spark,
          s"$corpus/old.parquet", "nd-compact-test", oldDf,
          batch.toDF("doc_id", "text"), "doc_id", "text", id,
          threshold = 0.5).collect()
      run(Seq(doc(11, 2), doc(12, 12)), "b1") // 12 kept
      run(Seq(doc(21, 12), doc(22, 22)), "b2") // 22 kept
      run(Seq(doc(31, 31)), "b3") // 31 kept
      val key = graft.pipeline.DedupIndex.snapshotKey(spark,
        s"$corpus/old.parquet", "nd-compact-test")
      def indexIds: Set[Long] = graft.pipeline.DedupIndex
        .loadNearDup(spark, key).get._1
        .select("id").distinct().collect().map(_.getLong(0)).toSet
      val before = indexIds
      assert(before == Set(1L, 2L, 3L, 12L, 22L, 31L), s"pre: $before")
      // fold the three segments
      assert(graft.pipeline.DedupIndex.compactNearDup(spark, key) == 3)
      assert(indexIds == before, "compaction changed the index content")
      // the read now has ONE root: the compaction generation — not
      // the base, not the segments
      val (bandsDf, _) = graft.pipeline.DedupIndex
        .loadNearDup(spark, key).get
      val inputs = bandsDf.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources
            .LogicalRelation =>
          r.relation.asInstanceOf[org.apache.spark.sql.execution
            .datasources.HadoopFsRelation]
            .location.rootPaths.map(_.toString)
      }.flatten
      assert(inputs.exists(_.contains("compact-000001")), s"$inputs")
      assert(!inputs.exists(_.contains("seg-b1")), s"$inputs")
      // idempotent: nothing new to fold
      assert(graft.pipeline.DedupIndex.compactNearDup(spark, key) == 0)
      // the chain continues across the fold: batch 4 dups batch-2's
      // survivor (22, lives only inside the compacted generation) and
      // keeps doc 42, appended as a fresh post-compaction segment
      val p4 = run(Seq(doc(41, 22), doc(42, 42)), "b4")
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p4 == Set((41L, 22L)), s"post-compaction batch: $p4")
      assert(indexIds == before + 42L)
      // a retry of batch 4 must not see its own segment: with seg-b4
      // excluded the roots are the generation alone — same pairs
      val p4r = run(Seq(doc(41, 22), doc(42, 42)), "b4")
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p4r == p4, s"batch-4 retry diverged: $p4r")
      // second fold picks up only the new segment, then prune drops
      // the covered dirs; content is unchanged
      assert(graft.pipeline.DedupIndex
        .compactNearDup(spark, key, pruneCovered = true) == 1)
      assert(indexIds == before + 42L, "prune changed the index content")
      val names = new java.io.File(dir, key).listFiles()
        .map(_.getName).toSet
      assert(!names.exists(_.startsWith("seg-")), s"$names")
      assert(names("compact-000002") && !names("compact-000001"),
        s"$names")
    } finally {
      spark.sharedState.cacheManager.clearCache()
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(corpus))
    }
  }

  test("EXACT-dedup chain: batches fold novel hashes, retries exclude " +
      "their own segment, compaction folds to one bloom + one table") {
    // The exact sibling of the near-dup snapshot chain: batch N+2
    // must see batch N+1's novel paragraphs without any old-corpus
    // rescans, and compaction must fold the per-segment Blooms back
    // to one.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_exch").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    val corpus = java.nio.file.Files
      .createTempDirectory("graft_exchc").toString
    try {
      // the chain API is hash-level: (h1, h2) stand in for paragraph
      // hashes; `ord` rides along into the report
      def paras(ps: Long*): org.apache.spark.sql.DataFrame =
        ps.zipWithIndex.map { case (p, i) => (p, p * 1000L, i.toLong) }
          .toDF("h1", "h2", "ord")
      paras(1, 2, 3).write.parquet(s"$corpus/old.parquet")
      val oldDf = spark.read.parquet(s"$corpus/old.parquet")
        .select("h1", "h2")
      def run(batch: org.apache.spark.sql.DataFrame, id: String)
          : Map[Long, Boolean] =
        graft.pipeline.Dedup.incrementalExactBatch(spark,
            s"$corpus/old.parquet", "exact-chain-test", oldDf, 16L,
            batch, id)
          .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      val r1 = run(paras(2, 10), "b1")
      assert(r1 == Map(2L -> true, 10L -> false), s"b1: $r1")
      // batch 2 sees batch 1's NOVEL para 10 via the chain
      val r2 = run(paras(10, 11), "b2")
      assert(r2 == Map(10L -> true, 11L -> false), s"b2: $r2")
      // retry of b2 excludes its own segment: same verdicts
      val r2r = run(paras(10, 11), "b2")
      assert(r2r == r2, s"b2 retry diverged: $r2r")
      val key = graft.pipeline.DedupIndex.snapshotKey(spark,
        s"$corpus/old.parquet", "exact-chain-test")
      // markerless crash segment is invisible
      paras(99).select("h1", "h2").write
        .parquet(s"$dir/$key/seg-crashed/hashes")
      def chain = graft.pipeline.DedupIndex
        .loadExactChain(spark, key).get
      assert(!chain._2.collect().map(_.getLong(0)).contains(99L))
      // compaction folds base + both segments to ONE root/bloom
      assert(graft.pipeline.DedupIndex.compactExact(spark, key) == 2)
      val (blooms, idx) = chain
      assert(blooms.size == 1, s"expected one bloom, got ${blooms.size}")
      assert(idx.collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L, 10L, 11L))
      // the chain keeps working off the compacted root
      val r3 = run(paras(11, 12), "b3")
      assert(r3 == Map(11L -> true, 12L -> false), s"b3: $r3")
      // second fold + prune: one segment folded, old dirs gone
      assert(graft.pipeline.DedupIndex
        .compactExact(spark, key, pruneCovered = true) == 1)
      val names = new java.io.File(dir, key).listFiles()
        .map(_.getName).toSet
      assert(!names.exists(_.startsWith("seg-b")), s"$names")
      assert(names("compact-000002") && !names("compact-000001"),
        s"$names")
      assert(graft.pipeline.DedupIndex.loadExactChain(spark, key).get
        ._2.collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L, 10L, 11L, 12L))
    } finally {
      spark.sharedState.cacheManager.clearCache()
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(corpus))
    }
  }

  test("exact-dedup chain fuzz: seeded random batch/retry/compact " +
      "interleavings match a reference hash-set model") {
    // Same discipline as the near-dup fuzz below, for the exact
    // chain: the model is simply the set of (h1) hashes the index
    // must contain; batches mix duplicates of random indexed hashes
    // with novel ones; retries target the most recent batch before
    // any compact that folded it; prune only between batches.
    import spark.implicits._
    for (seed <- Seq(7, 31)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_exfz$seed").toString
      spark.conf.set("spark.graft.dedup.indexDir", dir)
      val corpus = java.nio.file.Files
        .createTempDirectory(s"graft_exfzc$seed").toString
      try {
        val rnd = new scala.util.Random(seed)
        def paras(ps: Seq[Long]): org.apache.spark.sql.DataFrame =
          ps.map(p => (p, p * 1000L)).toDF("h1", "h2")
        paras(Seq(1L, 2L, 3L)).write.parquet(s"$corpus/old.parquet")
        val oldDf = spark.read.parquet(s"$corpus/old.parquet")
        val key = graft.pipeline.DedupIndex.snapshotKey(spark,
          s"$corpus/old.parquet", s"exact-fuzz-$seed")
        var model = Set(1L, 2L, 3L)
        var nextH = 100L
        var lastBatch: Option[(Seq[Long], String, Map[Long, Boolean])] =
          None
        var compactedSince = true
        def run(ps: Seq[Long], id: String): Map[Long, Boolean] =
          graft.pipeline.Dedup.incrementalExactBatch(spark,
              s"$corpus/old.parquet", s"exact-fuzz-$seed", oldDf, 16L,
              paras(ps), id)
            .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
        def indexHashes: Set[Long] = graft.pipeline.DedupIndex
          .loadExactChain(spark, key).get._2
          .select("h1").distinct().collect().map(_.getLong(0)).toSet
        for (step <- 1 to 14) {
          val op = rnd.nextInt(10)
          if (op < 6 || lastBatch.isEmpty) { // new batch
            val n = 1 + rnd.nextInt(3)
            // distinct hashes within the batch (within-batch dups are
            // out of the contract's scope, like the near-dup loop)
            val ps = scala.collection.mutable.LinkedHashSet[Long]()
            while (ps.size < n) {
              if (model.nonEmpty && rnd.nextBoolean()) {
                val hs = model.toSeq.sorted
                ps += hs(rnd.nextInt(hs.size))
              } else { nextH += 1; ps += nextH }
            }
            val id = s"b$step"
            val expected = ps.map(p => p -> model(p)).toMap
            val got = run(ps.toSeq, id)
            assert(got == expected,
              s"seed=$seed step=$step batch: $got != $expected")
            model ++= ps.filterNot(model)
            lastBatch = Some((ps.toSeq, id, expected))
            compactedSince = false
          } else if (op < 8 && !compactedSince) { // retry
            val (ps, id, expected) = lastBatch.get
            val got = run(ps, id)
            assert(got == expected,
              s"seed=$seed step=$step retry diverged: $got")
          } else { // compact
            graft.pipeline.DedupIndex.compactExact(spark, key,
              pruneCovered = rnd.nextBoolean())
            compactedSince = true
            assert(indexHashes == model,
              s"seed=$seed step=$step post-compact index != model")
          }
        }
        assert(indexHashes == model, s"seed=$seed final index")
      } finally {
        spark.sharedState.cacheManager.clearCache()
        spark.conf.unset("spark.graft.dedup.indexDir")
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir))
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(corpus))
      }
    }
  }

  test("near-dup chain fuzz: seeded random batch/retry/compact " +
      "interleavings match a driver-side reference model") {
    // The compaction protocol's edges (retry exclusion across a fold,
    // generation selection, fold-then-append) are each pinned by the
    // directed test above; this drives RANDOM interleavings against a
    // plain-Scala model of the contract. Ops per the single-
    // orchestrator rules: a retry targets the most recent batch and
    // only before any compact that folded it; prune only between
    // batches (both documented).
    import spark.implicits._
    for (seed <- Seq(11, 23)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_ndfz$seed").toString
      spark.conf.set("spark.graft.dedup.indexDir", dir)
      val corpus = java.nio.file.Files
        .createTempDirectory(s"graft_ndfzc$seed").toString
      try {
        val rnd = new scala.util.Random(seed)
        def doc(id: Long, s: Long): (Long, String) =
          (id, (0 until 30).map(k => s"w${s * 100 + k}").mkString(" "))
        // base corpus: 3 docs, seeds 1..3
        val baseDocs = Seq(doc(1, 1), doc(2, 2), doc(3, 3))
        baseDocs.toDF("doc_id", "text").coalesce(1)
          .write.parquet(s"$corpus/old.parquet")
        val oldDf = spark.read.parquet(s"$corpus/old.parquet")
        val key = graft.pipeline.DedupIndex.snapshotKey(spark,
          s"$corpus/old.parquet", s"nd-fuzz-$seed")
        // reference model: survivor docId -> seed
        var model = baseDocs.map { case (id, _) => id -> id }.toMap
        var nextId = 100L
        var nextSeed = 100L
        var lastBatch: Option[(Seq[(Long, Long)], String,
          Set[(Long, Long)])] = None // (docs as (id, seed), batchId, pairs)
        var compactedSince = true // base build counts; no retry target yet
        def runBatch(docs: Seq[(Long, Long)], id: String)
            : Set[(Long, Long)] =
          graft.pipeline.Dedup.incrementalNearDupBatch(spark,
              s"$corpus/old.parquet", s"nd-fuzz-$seed", oldDf,
              docs.map { case (i, s) => doc(i, s) }.toDF("doc_id", "text"),
              "doc_id", "text", id, threshold = 0.5)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        def indexIds: Set[Long] = graft.pipeline.DedupIndex
          .loadNearDup(spark, key).get._1
          .select("id").distinct().collect().map(_.getLong(0)).toSet
        for (step <- 1 to 14) {
          val op = rnd.nextInt(10)
          if (op < 6 || lastBatch.isEmpty) { // new batch
            val n = 1 + rnd.nextInt(3)
            val docs = (1 to n).map { _ =>
              val dup = model.nonEmpty && rnd.nextBoolean()
              val s = if (dup) {
                val seeds = model.values.toSeq.sorted
                seeds(rnd.nextInt(seeds.size))
              } else { nextSeed += 1; nextSeed }
              nextId += 1
              (nextId, s)
            }.toSeq
            val id = s"b$step"
            val expected = (for {
              (di, ds) <- docs
              (mi, ms) <- model if ms == ds
            } yield (di, mi)).toSet
            val got = runBatch(docs, id)
            assert(got == expected,
              s"seed=$seed step=$step batch pairs: $got != $expected")
            val dupIds = expected.map(_._1)
            model ++= docs.filterNot(d => dupIds(d._1)).toMap
            lastBatch = Some((docs, id, expected))
            compactedSince = false
          } else if (op < 8 && !compactedSince) { // retry last batch
            val (docs, id, expected) = lastBatch.get
            val got = runBatch(docs, id)
            assert(got == expected,
              s"seed=$seed step=$step retry diverged: $got != $expected")
          } else { // compact (sometimes pruning)
            graft.pipeline.DedupIndex.compactNearDup(spark, key,
              pruneCovered = rnd.nextBoolean())
            compactedSince = true
            assert(indexIds == model.keySet,
              s"seed=$seed step=$step post-compact index != model")
          }
        }
        assert(indexIds == model.keySet, s"seed=$seed final index")
      } finally {
        spark.sharedState.cacheManager.clearCache()
        spark.conf.unset("spark.graft.dedup.indexDir")
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(dir))
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(corpus))
      }
    }
  }

  test("IVF ranking windows keep a PARTIAL WindowGroupLimit (map-side " +
      "top-k) in their physical plans") {
    // The hot IVF queries depend on Spark's InferWindowGroupLimit
    // planning the row_number()+filter as a partial (pre-exchange)
    // group limit, so the ranking shuffle carries ≤ k rows per query
    // key instead of every candidate pair (docs/PLANS.md pins the
    // shape). A Spark upgrade or query refactor that silently dropped
    // it would turn the rank stage back into a full-candidate
    // exchange at 100 TB — assert it like the Q6 PushedFilters test.
    val dir = java.nio.file.Files.createTempDirectory("graft_wgl").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    val d = sf("sf0.001")
    try {
      // retrieval_ndcg_eval joined the composite top-8 in r16: its two
      // top-10 rank windows (DCG + ideal-DCG) carry the same partial
      // group-limit contract as the IVF rankers — pin it with them
      for (name <- Seq("knn_classify", "hard_negatives",
          "bitext_mine_ivf", "retrieval_ndcg_eval")) {
        // lazy-plan mode: materializeAndRelease otherwise collapses
        // the bitext plan to a Scan ExistingRDD before inspection
        graft.pipeline.Caching.inspectLazyPlans = true
        val q = try SparkEntry.specs.find(_.name == name).get.run(spark, d)
          finally { graft.pipeline.Caching.inspectLazyPlans = false }
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("WindowGroupLimit"),
          s"$name lost its WindowGroupLimit:\n" + plan.take(1500))
        assert(plan.contains("Partial"),
          s"$name's WindowGroupLimit is not partial (map-side):\n" +
            plan.take(1500))
      }
    } finally {
      spark.sharedState.cacheManager.clearCache()
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("mad_outliers: ONE column-pruned fact scan, one exchange, " +
      "map-side partial collect, no sort-merge join") {
    // r18 rewrite (was: three scans + two percentile broadcast-join
    // rounds): med, mad and the outlier count all derive from one
    // sorted per-segment value array, so the contract is now a SINGLE
    // fact scan feeding a single 5-group aggregate whose partial
    // (the value list) is map-side combined — the same per-group
    // state the exact percentile aggregate kept, one pass instead of
    // three. MadOutliersSpec pins result equality with the old form.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.AnalyticsQueries.madOutliers(spark, sf("sf0.001"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("partial_collect_list") ||
        plan.contains("partial_sort_array"),
        "value collection lost its map-side partial:\n" + plan.take(1200))
      assert(plan.contains("ObjectHashAggregate"), plan.take(1200))
      assert(!plan.contains("SortMergeJoin"),
        "the MAD pass degraded to a shuffle join:\n" + plan.take(1500))
      val factScans = plan.linesIterator
        .count(l => l.contains("FileScan") && l.contains("orders.parquet"))
      assert(factScans == 1,
        s"expected exactly 1 column-pruned orders scan, got $factScans")
      val exchanges = plan.linesIterator
        .count(l => l.contains("Exchange hashpartitioning"))
      assert(exchanges == 1,
        s"expected exactly 1 shuffle (the 5-group aggregate), " +
          s"got $exchanges:\n" + plan.take(1500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("cellsSidecar crash-safety: a partial write without _COMPLETE " +
      "is invisible and rebuilds cleanly") {
    // The marker-last contract: a writer that died after the parquet
    // write but before the _COMPLETE create must be treated as a miss
    // (rebuild), never read as a (possibly truncated) index.
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfcr").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    val d = sf("sf0.001")
    try {
      val r1 = graft.queries.ExtraQueries.simAnnIvfPersisted(spark, d)
        .collect()
      // simulate the crash: delete the marker, truncate the cells dir
      val key = graft.pipeline.DedupIndex.snapshotKey(
        spark, s"$d/embeddings.parquet", "ivf-cells-v1")
      val base = new java.io.File(dir, key)
      assert(new java.io.File(base, "_COMPLETE").delete())
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(base, "cells"))
      val r2 = graft.queries.ExtraQueries.simAnnIvfPersisted(spark, d)
        .collect()
      assert(r2 === r1, "rebuild after crash changed the result")
      assert(new java.io.File(base, "_COMPLETE").exists(),
        "rebuild did not re-mark the sidecar complete")
    } finally {
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("bucketed fact tables join with ZERO exchange (co-located " +
      "sort-merge join)") {
    // The 100 TB fact-fact join answer the queries can't show on plain
    // parquet: write both sides bucketed (and sorted) on the join key,
    // and the join plans as a sort-merge join with NO ShuffleExchange
    // on either side — the shuffle is paid once at layout time, then
    // every subsequent join of the co-located tables is exchange-free.
    val dir = java.nio.file.Files.createTempDirectory("graft_smb").toString
    val d = sf("sf0.001")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      Tables.lineitem(spark, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$dir/li").saveAsTable("graft_smb_li")
      Tables.orders(spark, d).select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$dir/o").saveAsTable("graft_smb_o")
      val j = spark.table("graft_smb_li")
        .join(spark.table("graft_smb_o"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        "bucketed join still shuffles:\n" + plan.take(1200))
      assert(j.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_smb_li")
      spark.sql("DROP TABLE IF EXISTS graft_smb_o")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("sim_ann_ivf_persisted reuses the index sidecar: the second " +
      "query scans only cell partitions, never embeddings.parquet") {
    // The build-once/query-many ANN contract: the first query over a
    // corpus snapshot persists the cell assignment (parquet partitioned
    // by cell); a later query's plan must read ONLY the sidecar — the
    // corpus itself never re-scans, and the assignment (count + bank
    // sampling + argmin scan) is never re-planned.
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfsc").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    val d = sf("sf0.001")
    try {
      val r1 = graft.queries.ExtraQueries.simAnnIvfPersisted(spark, d)
        .collect()
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val q2 = graft.queries.ExtraQueries.simAnnIvfPersisted(spark, d)
      val scans = q2.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString(",")
      }
      assert(scans.nonEmpty && scans.forall(_.contains(dir)),
        s"second query reads beyond the sidecar: $scans")
      assert(!scans.exists(_.contains("embeddings.parquet")),
        s"corpus re-scanned on a sidecar hit: $scans")
      assert(q2.collect() === r1, "sidecar reuse changed the result")
      // and the persisted path agrees with the in-flight index
      assert(graft.queries.ExtraQueries.simAnnIvf(spark, d).collect()
        === r1, "persisted index diverged from the in-flight assignment")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF candidate-pair work grows ~linearly with the corpus " +
      "(data-driven cell count)") {
    // The round-9 scale gap: fixed k=4 cells made the semantic-dedup
    // within-cell self-join O((n/4)²). IvfIndex now derives
    // k = ceil(n/128) from the corpus, so Σ_cells C(pop, 2) — the exact
    // candidate-pair count the pair join produces — must grow ~linearly
    // in n, and no cell may exceed the re-split cap. Checked on the
    // real testdata at 4× scale (500 → 2000 embeddings).
    import graft.pipeline.IvfIndex
    def pairStats(dir: String): (Long, Long, Long) = {
      val emb = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val cells = IvfIndex.withCells(emb, "vec_id", "embedding")
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) / 2")).cast("long").as("pairs"),
          max(col("n")).as("maxcell"), count(lit(1)).as("ncells"))
        .head()
      (cells.getLong(0), cells.getLong(1), cells.getLong(2))
    }
    val (pairsSmall, maxSmall, cellsSmall) =
      pairStats("/root/testdata/sf0.01") // 500 rows
    val (pairsBig, maxBig, cellsBig) =
      pairStats("/root/testdata/sf0.1") // 2000 rows
    info(s"sf0.01: $pairsSmall pairs, $cellsSmall cells, max $maxSmall; " +
      s"sf0.1: $pairsBig pairs, $cellsBig cells, max $maxBig")
    assert(cellsBig > cellsSmall, "cell count failed to grow with the corpus")
    // linear pair growth would be 4× for 4× rows; ≤8× allows cell-size
    // variance while still catching anything quadratic (which would be 16×)
    assert(pairsBig.toDouble / pairsSmall <= 8.0,
      s"candidate pairs grew ${pairsBig.toDouble / pairsSmall}× for 4× rows")
    assert(maxSmall <= IvfIndex.CapMult * IvfIndex.Target &&
      maxBig <= IvfIndex.CapMult * IvfIndex.Target,
      s"cell population exceeded the re-split cap: $maxSmall / $maxBig")
  }

  test("zonalMany is ONE cube scan for 120 geometries (broadcast mask " +
    "table, no per-geometry union)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zmany").toString
    val grid = CubeGrid(64, 32, 0.0, 40.0, 0.1, latAscending = true)
    val cube = Cube.synthetic(spark, grid, 2, Seq("v0"))
    CubeIngest.writeCube(cube, s"$dir/cube", tileSize = 16)
    val back = CubeIngest.readCube(spark, s"$dir/cube", grid, Seq("v0"))
    // 120 small boxes tiling the grid — a FeatureCollection-scale fan-out
    val geoms = (0 until 120).map { i =>
      val gx = (i % 12) * 0.5
      val gy = 40.0 + (i / 12) * 0.3
      graft.geo.Geo.boxPolygon(gx + 0.01, gy + 0.01, gx + 0.45, gy + 0.25)
    }
    val q = TimeSeries.zonalMany(back, "v0", geoms)
    val plan = q.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected exactly one cube scan, got $scans:\n" +
      plan.take(1200))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), "mask table not broadcast:\n" +
      plan.take(1200))
    // semantics: identical to the per-geometry zonal operator
    val many = q.collect().filter(_.getAs[Int]("geometry_index") == 7)
    val one = TimeSeries.zonal(back, "v0", geoms(7)).collect()
    assert(many.length == one.length && many.nonEmpty)
    many.sortBy(_.getAs[String]("date")).zip(one.sortBy(_.getAs[String]("date")))
      .foreach { case (m, o) =>
        assert(m.getAs[Long]("total_count") == o.getAs[Long]("total_count"))
        assert(m.getAs[Long]("valid_count") == o.getAs[Long]("valid_count"))
        assert(math.abs(m.getAs[Double]("average") -
          o.getAs[Double]("average")) < 1e-12)
      }
  }

  test("AQE re-plans a static sort-merge join into a broadcast join " +
      "when the filtered side turns out tiny at runtime") {
    // The adaptive contract the engine leans on at 100 TB: a dim side
    // whose STATIC stats exceed the broadcast threshold (so the
    // initial plan is SMJ) but whose runtime output after a selective
    // filter is a handful of rows must be switched to a broadcast
    // join by AQE — no manual hint, no re-deploy. This is why graft
    // only hand-broadcasts PROVABLY bounded sides (driver state,
    // aggregates) and leaves data-dependent cases to runtime stats.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    // the runtime switch uses its own threshold: static planning sees
    // file-size stats (SMJ), the finalized stage sees ~rows of bytes
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
    try {
      val li = Tables.lineitem(spark, sf("sf0.01"))
      val ord = Tables.orders(spark, sf("sf0.01"))
        .filter(col("o_totalprice") > 450000.0) // runtime: a few rows
      val q = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      q.collect() // finalize the adaptive plan
      val finalPlan = q.queryExecution.executedPlan.toString
      assert(finalPlan.contains("BroadcastHashJoin"),
        "AQE did not switch to broadcast:\n" + finalPlan.take(1500))
      assert(finalPlan.contains("AdaptiveSparkPlan isFinalPlan=true"),
        finalPlan.take(300))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("dynamic partition pruning: a dim filter prunes the " +
      "partitioned fact scan at runtime") {
    // Layout contract for date-partitioned facts: joining through a
    // filtered dimension must not scan every partition — Spark plants
    // a dynamicpruning subquery on the fact's partition column. This
    // is the mechanism that turns "join January's orders" into a
    // 1/84th scan on a date-partitioned 100 TB fact table.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dpp").toString
    val li = Tables.lineitem(spark, sf("sf0.001"))
      .withColumn("ship_month",
        date_format(col("l_shipdate"), "yyyy-MM"))
    li.write.partitionBy("ship_month").parquet(s"$dir/li")
    val fact = spark.read.parquet(s"$dir/li")
    val months = fact.select(col("ship_month").as("m")).distinct()
      .withColumn("mm", expr("substr(m, 6, 2)"))
    months.write.parquet(s"$dir/dim")
    // the dim filter must be one the PartitionPruning rule considers
    // LIKELY SELECTIVE (literal equality here) — a bare boolean
    // column doesn't qualify and silently disables DPP
    val dim = spark.read.parquet(s"$dir/dim").filter(col("mm") === "03")
    // without table-level ANALYZE stats the distinct-count benefit
    // model can't see the filter's selectivity; the fallback ratio is
    // the config documented for exactly this catalog-less case
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    // the aggregate reads real fact columns so the optimizer's
    // pruning-benefit estimate (filter ratio × fact scan bytes) is
    // positive — a keys-only probe would estimate a near-zero scan
    val q = fact.join(dim, col("ship_month") === col("m"))
      .groupBy("m").agg(Q.dsum(col("l_quantity")).as("qty"),
        count(lit(1)).as("n"))
    val planned = q.queryExecution.executedPlan.toString
    assert(planned.contains("dynamicpruning") ||
      planned.contains("DynamicPruning"),
      "no dynamic pruning subquery on the fact scan:\n" +
        planned.take(1500))
    // semantics: only March partitions contribute
    val got = q.collect()
    assert(got.nonEmpty && got.forall(_.getString(0).endsWith("-03")))
    spark.conf.unset(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }

  test("join_bloom_prune: the Bloom probe filters the fact side BELOW " +
      "the shuffle, and the join survives forced-shuffle planning") {
    // The semi-join-reduction contract: rows that cannot match are
    // dropped before they are hashed onto the exchange, so at 100 TB
    // the shuffle carries ~1/5 of lineitem, not all of it. The probe
    // must be visible in the optimized plan as a Filter under the
    // join's fact side, and the physical join must be a shuffle hash
    // join (the scenario is "dim too big to broadcast").
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = graft.queries.ScaleOpsQueries.joinBloomPrune(
        spark, sf("sf0.001"))
      val opt = q.queryExecution.optimizedPlan
      val joins = opt.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.nonEmpty, "no join in optimized plan")
      val factSideFiltered = joins.exists(_.left.toString
        .contains("bloom_might_contain"))
      assert(factSideFiltered,
        "bloom probe not below the join on the fact side:\n" +
          opt.toString.take(1500))
      val phys = q.queryExecution.executedPlan.toString
      assert(phys.contains("ShuffledHashJoin"),
        "expected a shuffle hash join under forced-shuffle planning:\n" +
          phys.take(1200))
      assert(phys.contains("bloom_might_contain"),
        "probe missing from the physical plan")
      // exactness: the bloom can only ADD candidates the join rejects,
      // never drop matches — same row count as the unpruned join
      val plain = Tables.lineitem(spark, sf("sf0.001"))
        .join(Tables.orders(spark, sf("sf0.001"))
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .count()
      val pruned = Tables.lineitem(spark, sf("sf0.001"))
        .join(Tables.orders(spark, sf("sf0.001"))
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(sum(lit(1L))).collect()(0).getLong(0)
      assert(plain == pruned)
      assert(q.agg(sum(col("n_items"))).collect()(0).getLong(0) == plain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("timeline_cogroup: one exchange per input, no window, no union " +
      "shuffle — the typed cogroup plan shape") {
    val q = graft.queries.ScaleOpsQueries.timelineCogroup(
      spark, sf("sf0.001"))
    val plan = q.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        => e
    }
    // 2 hash exchanges (events, orders) + the final rangepartitioning
    // for the deterministic ORDER BY — nothing else
    assert(exchanges.size <= 3,
      s"expected ≤3 exchanges, got ${exchanges.size}:\n" +
        plan.toString.take(1500))
    assert(plan.collectFirst {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "cogroup path must not need a window")
    assert(plan.toString.contains("CoGroup"),
      "CoGroup operator missing:\n" + plan.toString.take(1200))
  }

  test("bitext_mine: no corpus-side exchange carries a float vector " +
      "(ANN prefilter + bounded rerank)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = graft.queries.EngineQueries.bitextMine(
        spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e
      }
      assert(exchanges.nonEmpty)
      // every exchange carries ids/scores only: vectors live in
      // scan-side projects and broadcasts (signatures are 4 longs,
      // allowed; float/double arrays are not)
      exchanges.foreach { e =>
        e.child.output.foreach { a =>
          a.dataType match {
            case org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.FloatType |
                org.apache.spark.sql.types.DoubleType, _) =>
              fail(s"exchange carries vector column ${a.name}")
            case _ =>
          }
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("staged base publish: two racing first builders of a fresh key " +
      "never expose a partial sidecar to a polling reader") {
    // Round-16 residual #1: the base writers (save / saveNearDup /
    // tableSidecar / cellsSidecar) wrote parquet directly into the
    // published directory — two concurrent FIRST queries over the same
    // new snapshot could interleave one writer's mode("overwrite")
    // delete with the other's _COMPLETE create, exposing a partial
    // table under a valid marker. All four now stage under a hidden
    // _stage-* sibling and publish by ONE rename
    // (DedupIndex.publishStagedBase), so a reader that can see the
    // marker can only see a whole sidecar. This drives the realistic
    // race: two builder threads + a reader thread polling load() the
    // whole time, every visible read must be complete.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_race").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    try {
      val n = 5000
      val hashes = (1L to n).map(h => (h, h * 1000L)).toDF("h1", "h2")
        .repartition(8) // several part files → a wide write window
      val bloom = graft.pipeline.Dedup.boundedBloom(hashes, "h1", n)
      for (round <- 1 to 3) {
        val key = f"race-exact-$round"
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val bad = new java.util.concurrent.atomic
          .AtomicReference[String](null)
        val reader = new Thread(() => {
          while (!stop.get()) {
            Thread.sleep(2)
            try graft.pipeline.DedupIndex.load(spark, key).foreach {
              case (_, idx) =>
                val got = idx.count()
                if (got != n)
                  bad.compareAndSet(null, s"partial index visible: " +
                    s"$got of $n rows under a _COMPLETE marker")
            } catch {
              case e: Throwable => bad.compareAndSet(null,
                s"reader threw mid-race: ${e.getMessage}")
            }
          }
        })
        reader.start()
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
        val writers = (1 to 2).map(_ => new Thread(() =>
          try graft.pipeline.DedupIndex.save(spark, key, bloom, hashes)
          catch { case e: Throwable => errs.add(e) }))
        writers.foreach(_.start()); writers.foreach(_.join())
        stop.set(true); reader.join()
        assert(errs.isEmpty, s"writer threw: ${errs.peek()}")
        assert(bad.get() == null, String.valueOf(bad.get()))
        val (_, idx) = graft.pipeline.DedupIndex.load(spark, key).get
        assert(idx.count() == n, "published sidecar incomplete")
        // no staging leftovers visible as data (underscore-hidden ok)
        val names = new java.io.File(dir).listFiles().map(_.getName)
        assert(names.count(_ == key) == 1)
      }
      // the partitioned IVF cells sidecar takes the same path: race
      // two first builders through cellsSidecar with a polling reader
      val corpus = java.nio.file.Files
        .createTempDirectory("graft_racec").toString
      try {
        (0L until 1000L).map(i => (i, i % 7))
          .toDF("id", "x").write.parquet(s"$corpus/emb.parquet")
        val assigned = (0L until 1000L).map(i => (i, i % 10))
          .toDF("id", "cell").repartition(4)
        val key = graft.pipeline.DedupIndex.snapshotKey(spark,
          s"$corpus/emb.parquet", "race-cells")
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val bad = new java.util.concurrent.atomic
          .AtomicReference[String](null)
        val reader = new Thread(() => {
          while (!stop.get()) {
            Thread.sleep(2)
            try {
              if (new java.io.File(s"$dir/$key/_COMPLETE").exists()) {
                val got = spark.read.schema("id BIGINT, cell BIGINT")
                  .parquet(s"$dir/$key/cells").count()
                if (got != 1000)
                  bad.compareAndSet(null, s"partial cells visible: $got")
              }
            } catch {
              case e: Throwable => bad.compareAndSet(null,
                s"cells reader threw mid-race: ${e.getMessage}")
            }
          }
        })
        reader.start()
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
        val writers = (1 to 2).map(_ => new Thread(() =>
          try graft.pipeline.IvfIndex.cellsSidecar(spark,
            s"$corpus/emb.parquet", "race-cells",
            "id BIGINT, cell BIGINT", assigned).count()
          catch { case e: Throwable => errs.add(e) }))
        writers.foreach(_.start()); writers.foreach(_.join())
        stop.set(true); reader.join()
        assert(errs.isEmpty, s"cells writer threw: ${errs.peek()}")
        assert(bad.get() == null, String.valueOf(bad.get()))
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(corpus))
    } finally {
      spark.sharedState.cacheManager.clearCache()
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("exact-chain concurrent publish fuzz: racing appenders and a " +
      "compactor leave the chain content-equal to the model after " +
      "every quiesce") {
    // The round-16 chain fuzzes drive SEQUENTIAL interleavings; this
    // drives the race paths the directed tests covered one at a time:
    // concurrent appenders of DIFFERENT segments, duplicate appenders
    // of the SAME segment (the retry race — identical content, loser
    // discards), and a compactor folding mid-append. After each round
    // quiesces, the chain must hold exactly the model's hashes. Prune
    // during the race is deliberately absent — that is what the lease
    // prune (pruneSuperseded) is for; lease-window pruning runs in the
    // quiesced gaps below like a serving tier would.
    import spark.implicits._
    for (seed <- Seq(13, 29)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_cfz$seed").toString
      spark.conf.set("spark.graft.dedup.indexDir", dir)
      try {
        val rnd = new scala.util.Random(seed)
        val key = s"cfuzz-$seed"
        def hdf(hs: Seq[Long]) = hs.map(h => (h, h * 1000L)).toDF("h1", "h2")
        graft.pipeline.DedupIndex.save(spark, key,
          graft.pipeline.Dedup.boundedBloom(hdf(Seq(1L, 2L, 3L)), "h1", 16),
          hdf(Seq(1L, 2L, 3L)))
        var model = Set(1L, 2L, 3L)
        var nextH = 100L
        var nextSeg = 0
        def chainHashes: Set[Long] = graft.pipeline.DedupIndex
          .loadExactChain(spark, key).get._2
          .select("h1").distinct().collect().map(_.getLong(0)).toSet
        for (round <- 1 to 4) {
          val errs = new java.util.concurrent
            .ConcurrentLinkedQueue[Throwable]
          def th(body: => Unit) = new Thread(() =>
            try body catch { case e: Throwable => errs.add(e) })
          // two fresh segments with disjoint novel hashes…
          val segs = (1 to 2).map { _ =>
            nextSeg += 1
            val hs = (1 to 1 + rnd.nextInt(3)).map { _ =>
              nextH += 1; nextH }
            (s"s$nextSeg", hs)
          }
          val threads = new scala.util.Random(seed * 100 + round).shuffle(
            segs.map { case (id, hs) => th {
              graft.pipeline.DedupIndex.appendExact(spark, key, id,
                hdf(hs), hs.size.toLong)
            } } ++
            // …a duplicate appender racing the first segment (retry
            // race: same id, same content — loser must discard)…
            Seq(th {
              graft.pipeline.DedupIndex.appendExact(spark, key,
                segs.head._1, hdf(segs.head._2), segs.head._2.size.toLong)
            }) ++
            // …and TWO compactors racing each other (same-generation
            // publish: one rename wins, the loser discards) and the
            // appenders, folding whatever is complete mid-race
            Seq(
              th { graft.pipeline.DedupIndex.compactExact(spark, key) },
              th { graft.pipeline.DedupIndex.compactExact(spark, key) }))
          threads.foreach(_.start()); threads.foreach(_.join())
          assert(errs.isEmpty,
            s"seed=$seed round=$round racer threw: ${errs.peek()}")
          model ++= segs.flatMap(_._2)
          assert(chainHashes == model,
            s"seed=$seed round=$round chain != model after quiesce")
          // quiesced lease prune, serving-tier style: a fresh
          // generation is younger than a real lease → no-op; then a
          // second compact + zero lease reaps what it superseded
          assert(graft.pipeline.DedupIndex
            .pruneSuperseded(spark, key, leaseMs = 3600000L) == 0)
          graft.pipeline.DedupIndex.compactExact(spark, key)
          graft.pipeline.DedupIndex.pruneSuperseded(spark, key, 0L)
          assert(chainHashes == model,
            s"seed=$seed round=$round chain != model after lease prune")
        }
      } finally {
        spark.sharedState.cacheManager.clearCache()
        spark.conf.unset("spark.graft.dedup.indexDir")
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(dir))
      }
    }
  }

  test("near-dup chain concurrent publish fuzz: racing appenders and " +
      "compactors leave the band/shingle index content-equal to the " +
      "model after every quiesce") {
    // The near-dup twin of the exact-chain concurrent fuzz above:
    // appendNearDup/compactNearDup are separate implementations (two
    // tables per root, no blooms), so the race paths need their own
    // drive — two fresh-segment appenders, a duplicate appender of the
    // first segment (retry race), and two racing compactors per
    // round; lease prune in the quiesced gaps.
    import spark.implicits._
    for (seed <- Seq(19, 37)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_ncfz$seed").toString
      spark.conf.set("spark.graft.dedup.indexDir", dir)
      try {
        val key = s"ndcfuzz-$seed"
        def rows(ids: Seq[Long]) = {
          val sh = ids.flatMap(i => (0 until 8)
            .map(k => (i, i * 100L + k))).toDF("id", "s")
          val bands = ids.flatMap(i => (0 until 4)
            .map(b => (i, b, i * 10L + b))).toDF("id", "band", "key")
          (bands, sh)
        }
        val (b0, s0) = rows(Seq(1L, 2L, 3L))
        graft.pipeline.DedupIndex.saveNearDup(spark, key, b0, s0)
        var model = Set(1L, 2L, 3L)
        var nextId = 100L
        var nextSeg = 0
        def indexIds: Set[Long] = graft.pipeline.DedupIndex
          .loadNearDup(spark, key).get._1
          .select("id").distinct().collect().map(_.getLong(0)).toSet
        for (round <- 1 to 3) {
          val errs = new java.util.concurrent
            .ConcurrentLinkedQueue[Throwable]
          def th(body: => Unit) = new Thread(() =>
            try body catch { case e: Throwable => errs.add(e) })
          val segs = (1 to 2).map { _ =>
            nextSeg += 1
            val ids = (1 to 2).map { _ => nextId += 1; nextId }
            (s"s$nextSeg", ids)
          }
          val threads = new scala.util.Random(seed * 10 + round).shuffle(
            segs.map { case (id, ids) => th {
              val (b, s) = rows(ids)
              graft.pipeline.DedupIndex.appendNearDup(spark, key, id, b, s)
            } } ++
            Seq(th {
              val (b, s) = rows(segs.head._2)
              graft.pipeline.DedupIndex.appendNearDup(spark, key,
                segs.head._1, b, s)
            }) ++
            Seq(
              th { graft.pipeline.DedupIndex.compactNearDup(spark, key) },
              th { graft.pipeline.DedupIndex.compactNearDup(spark, key) }))
          threads.foreach(_.start()); threads.foreach(_.join())
          assert(errs.isEmpty,
            s"seed=$seed round=$round racer threw: ${errs.peek()}")
          model ++= segs.flatMap(_._2)
          assert(indexIds == model,
            s"seed=$seed round=$round index != model after quiesce")
          assert(graft.pipeline.DedupIndex
            .pruneSuperseded(spark, key, leaseMs = 3600000L) == 0)
          graft.pipeline.DedupIndex.compactNearDup(spark, key)
          graft.pipeline.DedupIndex.pruneSuperseded(spark, key, 0L)
          assert(indexIds == model,
            s"seed=$seed round=$round index != model after lease prune")
          // the shingle side must track the band side through folds
          val shIds = graft.pipeline.DedupIndex.loadNearDup(spark, key)
            .get._2.select("id").distinct().collect()
            .map(_.getLong(0)).toSet
          assert(shIds == model,
            s"seed=$seed round=$round shingle table diverged")
        }
      } finally {
        spark.sharedState.cacheManager.clearCache()
        spark.conf.unset("spark.graft.dedup.indexDir")
        org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(dir))
      }
    }
  }

  test("pruneSuperseded honors the reader lease and chainRoots fails " +
      "loudly when a retry's fallback segments were pruned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lease").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    try {
      val key = "lease-test"
      def hdf(hs: Seq[Long]) = hs.map(h => (h, h * 1000L)).toDF("h1", "h2")
      graft.pipeline.DedupIndex.save(spark, key,
        graft.pipeline.Dedup.boundedBloom(hdf(Seq(1L, 2L)), "h1", 16),
        hdf(Seq(1L, 2L)))
      graft.pipeline.DedupIndex.appendExact(spark, key, "sA", hdf(Seq(10L)), 1L)
      graft.pipeline.DedupIndex.appendExact(spark, key, "sB", hdf(Seq(20L)), 1L)
      // a reader holding the PRE-compaction listing (files resolved)
      val pre = graft.pipeline.DedupIndex.loadExactChain(spark, key).get._2
      assert(pre.count() == 4)
      assert(graft.pipeline.DedupIndex.compactExact(spark, key) == 2)
      // inside the lease: nothing superseded may be deleted — the
      // pre-compaction reader's roots must survive
      assert(graft.pipeline.DedupIndex
        .pruneSuperseded(spark, key, leaseMs = 3600000L) == 0)
      assert(pre.count() == 4, "lease prune broke a live reader")
      // no generation yet superseded twice: prune with expired lease
      // reaps the two folded segments (and nothing else exists to reap)
      val reaped = graft.pipeline.DedupIndex.pruneSuperseded(spark, key, 0L)
      assert(reaped == 2, s"expected the 2 folded segments, got $reaped")
      val names = new java.io.File(dir, key).listFiles().map(_.getName).toSet
      assert(!names.exists(_.startsWith("seg-")), s"$names")
      assert(names("compact-000001"), s"$names")
      assert(graft.pipeline.DedupIndex.loadExactChain(spark, key).get._2
        .select("h1").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 10L, 20L))
      // ADVICE r16: after a prune, a retry that must FALL BACK past
      // the generation that folded its own segment cannot silently
      // reconstruct an incomplete chain (sB's hashes only live inside
      // the generation now) — it must fail loudly instead of
      // re-reporting previously-indexed duplicates as novel
      val ex = intercept[IllegalStateException] {
        graft.pipeline.DedupIndex.loadExactChain(spark, key,
          excludeSegments = Set("sA"))
      }
      assert(ex.getMessage.contains("pruned"), ex.getMessage)
      // while a retry whose OWN segment is the only pruned one is
      // fine: excluding it is exactly what the fallback view wants
      graft.pipeline.DedupIndex.appendExact(spark, key, "sC",
        hdf(Seq(30L)), 1L)
      assert(graft.pipeline.DedupIndex.loadExactChain(spark, key,
        excludeSegments = Set("sC")).get._2
        .select("h1").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 10L, 20L))
      // crashed FIRST-BUILD staging leftovers live at the indexDir
      // level (publishStagedBase stages a SIBLING of the base):
      // pruneSuperseded reaps them once stale — judged by the NEWEST
      // mtime under the dir, so a freshly-written one survives
      val stale = new java.io.File(dir, s"_stage-$key-crashed")
      assert(new java.io.File(stale, "hashes").mkdirs())
      val f = new java.io.File(stale, "hashes/part-0.parquet")
      assert(f.createNewFile())
      assert(graft.pipeline.DedupIndex
        .pruneSuperseded(spark, key, leaseMs = 60000L) == 0,
        "a freshly-staged dir must survive the lease prune")
      val old = System.currentTimeMillis() - 120000L
      Seq(stale, new java.io.File(stale, "hashes"), f)
        .foreach(x => assert(x.setLastModified(old)))
      assert(graft.pipeline.DedupIndex
        .pruneSuperseded(spark, key, leaseMs = 60000L) == 1,
        "stale root-level staging leftover was not reaped")
      assert(!stale.exists())
    } finally {
      spark.sharedState.cacheManager.clearCache()
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("compactExact publishes a correctly-sized generation Bloom: " +
      "absent keys stay below the configured false-positive band") {
    // Round-16 residual #2: the generation Bloom's capacity fell back
    // to 1 when the staged footers were unreadable — a saturated Bloom
    // passes EVERY probe, silently defeating the probe tier forever
    // (correct results, full verify-join cost). The fallback is now a
    // count of the staged 16-byte rows. This pins the observable
    // contract either way: after compaction, absent hashes must pass
    // the published Bloom at ≲ the sketch's fpp, never ~100%.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bsz").toString
    spark.conf.set("spark.graft.dedup.indexDir", dir)
    try {
      val key = "bloomsize-test"
      def hdf(hs: Seq[Long]) = hs.map(h => (h, h * 1000L)).toDF("h1", "h2")
      val base = (1L to 20000L).map(_ * 7L)
      graft.pipeline.DedupIndex.save(spark, key,
        graft.pipeline.Dedup.boundedBloom(hdf(base), "h1", base.size.toLong),
        hdf(base))
      val seg = (1L to 10000L).map(_ * 7L + 1L)
      graft.pipeline.DedupIndex.appendExact(spark, key, "big",
        hdf(seg), seg.size.toLong)
      assert(graft.pipeline.DedupIndex.compactExact(spark, key) == 1)
      val (blooms, _) = graft.pipeline.DedupIndex
        .loadExactChain(spark, key).get
      assert(blooms.size == 1)
      val absent = (1L to 2000L).map(_ * 7L + 3L) // in neither set
      val fp = absent.count(blooms.head.mightContainLong)
      assert(fp < 200, // 10% — a saturated (capacity-1) Bloom passes all
        s"generation Bloom saturated: $fp/2000 absent keys pass")
      // present keys never miss (no false negatives, base + segment)
      assert(base.forall(blooms.head.mightContainLong))
      assert(seg.forall(blooms.head.mightContainLong))
    } finally {
      spark.sharedState.cacheManager.clearCache()
      spark.conf.unset("spark.graft.dedup.indexDir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("session IVF assignment is bounded: successive snapshots of one " +
      "corpus evict the superseded pinned assignment") {
    // Round-16 residual #3 / ADVICE: the per-JVM assignment cache was
    // keyed by snapshot (path+mtime), so a long-lived serving JVM
    // pinned one dead localCheckpoint per superseded snapshot forever.
    // Now it's keyed by the LOGICAL (path, idCol, vecCol) identity and
    // a new snapshot replaces the old entry with a GRACE OF ONE
    // generation: the superseded assignment stays pinned (an in-flight
    // query that adopted it must keep its truncated-lineage blocks)
    // and is unpinned when the NEXT supersession lands — so the bound
    // is ≤ 2 pinned assignments per logical key, ever.
    import spark.implicits._
    val corpus = java.nio.file.Files
      .createTempDirectory("graft_sesev").toString
    try {
      val path = s"$corpus/emb.parquet"
      def writeCorpus(gen: Int): Unit =
        (0 until 300).map(i => (i.toLong,
          Array.tabulate(8)(j => (i * (j + 1) + gen * 17).toFloat)))
          .toDF("id", "vec")
          .write.mode("overwrite").parquet(path)
      writeCorpus(1)
      def consume(): Unit = {
        val df = spark.read.parquet(path)
        assert(graft.pipeline.IvfIndex
          .withCellsSession(spark, path, df, "id", "vec").count() == 300)
      }
      // track OUR pinned RDDs by id (robust to the ContextCleaner
      // asynchronously reaping unrelated leftovers from other tests)
      def pinnedIds: Set[Int] =
        spark.sparkContext.getPersistentRDDs.keySet.toSet
      val idsBefore = pinnedIds
      consume()
      val entriesAfterFirst = graft.pipeline.IvfIndex.sessionAssignSize
      val idsFirst = pinnedIds -- idsBefore
      assert(idsFirst.size == 1,
        s"first build should pin exactly one RDD, pinned: $idsFirst")
      // same snapshot: reuse, nothing new pinned
      consume()
      assert((pinnedIds -- idsBefore -- idsFirst).isEmpty)
      // successive snapshots: ONE live map entry and at most TWO
      // pinned RDDs (live + the one-generation grace), no matter how
      // many snapshots supersede each other
      for (gen <- 2 to 5) {
        Thread.sleep(15) // distinct snapshot mtime
        writeCorpus(gen)
        consume()
      }
      assert(graft.pipeline.IvfIndex.sessionAssignSize == entriesAfterFirst,
        "snapshot churn grew the session assignment map")
      val liveNew = pinnedIds -- idsBefore
      assert(liveNew.size == 2,
        s"expected live + one retired assignment pinned, got: $liveNew")
    } finally {
      spark.sharedState.cacheManager.clearCache()
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(corpus))
    }
  }
}
