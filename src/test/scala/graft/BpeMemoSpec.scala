package graft

/** Pins the BPE merges-memo contract (r17 verdict ask #7, mirroring the
  * r16 IVF session-reuse pin):
  *
  *  - `bpe_train` DECLARES training: it must run the live 6-step
  *    trainer on every invocation — one distributed top-pair job per
  *    merge step — and never consume the application memo, so training
  *    cost stays measured on bpe_train's own bench row.
  *  - `tokenize_learned` / `tokenizer_fertility` DECLARE applying a
  *    learned tokenizer: they consume the merge rules as driver state
  *    keyed by the corpus snapshot (dir + documents.parquet length +
  *    mtime), exactly like knn_classify consumes the session IVF
  *    assignment. A republished corpus changes the snapshot token and
  *    retrains; within one snapshot the rules are a deterministic pure
  *    function of the corpus, so reuse is exact.
  */
class BpeMemoSpec extends SparkSpec {

  test("bpe_train runs the live trainer even when the application " +
      "memo is warm; application queries are snapshot-stable") {
    val d = sf("sf0.001")
    // Warm the application memo (and pin the result for stability).
    val fert1 = graft.queries.PipelineQueries
      .tokenizerFertility(spark, d).collect()
    val tok1 = graft.queries.PipelineQueries
      .tokenizeLearned(spark, d).collect()

    // With the memo warm, bpe_train must STILL launch the trainer's
    // distributed jobs: ≥ 6 top-pair aggregations (one per merge step)
    // plus the vocab build — a memo hit would launch ~1.
    val (trained, jobs) = jobsDuring(
      graft.queries.PipelineQueries.bpeTrain(spark, d).collect())
    assert(jobs.size >= 6,
      s"bpe_train launched only ${jobs.size} jobs with the application " +
        "memo warm — it must run the live 6-step trainer, never the memo")
    assert(trained.length == 6, "6 learned merge rules")

    // Application reuse is exact within a snapshot.
    assert(graft.queries.PipelineQueries
      .tokenizerFertility(spark, d).collect() === fert1)
    assert(graft.queries.PipelineQueries
      .tokenizeLearned(spark, d).collect() === tok1)
  }
}
