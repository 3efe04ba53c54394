package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the ~sf1 scale-smoke runner honest: the spec drives the full
  * phase list at sf0.001×2 (seconds, not minutes), so the runner — and
  * its built-in churn-proportionality requires — cannot rot between the
  * real sf0.1×10 runs recorded in BASELINE.md.
  */
class ScaleSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("scale-smoke runner: all phases complete, churn asserts hold, metrics populated") {
    val out = java.nio.file.Files.createTempDirectory("smoke").toString + "/s.json"
    val phases = ScaleSmoke.run(spark, "/root/testdata/sf0.001", 2, out)
    val names = phases.map(_._1)
    assert(names == Seq("inflate-inputs", "ingest-bulk-90pct", "ingest-drop-10pct",
      "zonemap-lake-cluster", "zonemap-range-scan", "zonemap-append-stats",
      "dedup-index-build-90pct", "dedup-index-refresh-10pct", "dedup-candidate-pairs",
      "fuzzy-selfjoin-guarded", "fuzzy-indexed-probe",
      "sim-index-build-90pct", "sim-index-refresh-10pct", "sim-indexed-topk-500q",
      "pq-adc-topk", "imi-train-encode-1m-cells", "imipq-refresh-10pct",
      "imipq-upsert-1pct-changed", "imi-pq-serve-2000q",
      "mmr-indexed-topk",
      "kmeans-trainer-nlist128", "pca-moments-build-90pct", "pca-moments-drop-10pct",
      "pca-fit-from-index", "sparse-sim-topk", "span-dedup-anyalign", "bpe-encode-8k",
      "semdedup-labels", "semidx-build-90pct", "semidx-refresh-10pct",
      "semdedup-hier-labels", "knn-graph-cells",
      "semidx-hier-build-90pct", "semidx-hier-refresh-10pct",
      "knn-pagerank", "dsir-weights", "clf-train-score", "clf-train-landed",
      "clf-index-build-80pct", "clf-index-refresh-20pct",
      "clf-index-upsert-1pct-changed", "url-canonical-keep"),
      s"phase list drifted: $names")
    // the PCA drop phase lands an aggregate-sized segment (dim·(dim+3)/2)
    assert(phases.find(_._1 == "pca-moments-drop-10pct").get._3 == 64L * 67 / 2)
    // the append's new manifest entries, and only those, carry price
    // stats, and the range scan after it still prunes (-1 = a failed require)
    assert(phases.find(_._1 == "zonemap-append-stats").get._3 > 0L)
    // 2x sf0.001 orders = 30k inflated rows, all ingested across the two drops
    assert(phases.find(_._1 == "inflate-inputs").get._3 == 3000L)
    assert(phases.find(_._1 == "ingest-drop-10pct").get._3 >= 2990L)
    // the ingest phases genuinely shuffled (listener wiring is alive)
    assert(phases.find(_._1 == "ingest-bulk-90pct").get._4 > 0L,
      "shuffle-write metric not captured")
    // result JSON parses shape-wise (driver-side consumers read this file)
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(text.startsWith("""{"metric":"scale_smoke"""") && text.endsWith("}"))
  }
}
