package graft

import org.apache.spark.sql.SparkSession

/**
 * Plan-audit dump: writes PLANS.md with the formatted physical plan of the
 * scale-relevant queries, so the partition-pruning / pushdown / broadcast /
 * whole-stage-codegen claims are verifiable artifacts, not prose. Run:
 *   sbt -batch "runMain graft.Plans /root/testdata/sf0.01"
 */
object Plans {
  private val audited = Seq(
    "v_verdict_by_source" -> "per-partition verdicts: map-side partial agg, one shuffle of O(groups) rows",
    "v_json_valid" -> "custom Expression with doGenCode: scan+predicate stays in WholeStageCodegen",
    "q3_top_orders" -> "broadcast the filtered dim side; shuffle join only lineitem x orders; TakeOrdered(10)",
    "d_exact_dups" -> "single groupBy on a uniform 128-bit digest: no skew, one shuffle",
    "d_neardup_lsh" -> "LSH band-bucket equi-join: candidates only, never all-pairs",
    "d_neardup_capped" -> "hot-bucket cap: over-cap bucket list is a BROADCAST anti-join on the slim rows (no window, no second corpus shuffle)",
    "d_minhash_stats" -> "expressible minhash banding: raw split feeds MinHashBandsX directly (empty tokens skipped inside the compiled loop) — no interpreted lambda in the map stage",
    "d_simhash" -> "expressible simhash: raw split feeds SimHashX directly — no interpreted lambda in the map stage",
    "d_decontaminate" -> "test-set decontamination: bench gram table BROADCAST; train side is one map-side scan+explode of 8-byte shingle-fold keys (ShingleHashesX, no lambda)",
    "d_boilerplate" -> "boilerplate n-grams: per-doc distinct hashes map-side, ONE uniform-key shuffle with partial aggregation, post-agg df filter",
    "t_sample_stratified" -> "deterministic stratified sampling: mix32 coin + per-lang rate as pure column arithmetic inside the scan's codegen stage; single partial+final agg",
    "t_repetition" -> "repetitive-text signal: per-doc window counts in ONE compiled loop (RepetitionStatsX) — map-side only, no explode, no shuffle before the sort",
    "t_quality_signals" -> "quality signals: stopword count via compiled StopwordCountX (round 6) — no interpreted filter lambda in the scan projection",
    "t_langid_confusion" -> "language id: all five marker sets scored in ONE compiled loop (LangIdX, round 6) — replaces 5 interpreted filter-HOFs per doc + when cascade",
    "t_fingerprint" -> "position-weighted fingerprint in ONE compiled loop (FingerprintX, round 6) — replaces zip_with + aggregate interpreted lambdas",
    "v_token_freq" -> "token frequencies: raw \\\\s+ split feeds the explode directly (round 6) — empty token dropped post-count, no filter lambda ahead of the explode",
    "v_oov_stats" -> "OOV scan: byte lengths via compiled WordByteLensX and bad-token count via OovCountX (round 6) — the whole single-pass aggregation stage stays in codegen",
    "s_ann_lsh" -> "partition-pruned index read: PartitionFilters keep only the probed buckets; projection is pure ScaledIntDot over the pre-scaled sv column (no lambda)",
    "s_ann_batch" -> "batch ANN: corpus side read once, probe table BROADCAST, one window for per-query top-k",
    "s_ann_ivf" -> "IVF ANN: PartitionFilters keep only the nprobe nearest k-means cells; projection is pure ScaledIntDot over the pre-scaled sv column (no lambda)",
    "q_asof_purchase" -> "as-of join: union + carry-forward window — ONE shuffle of |L|+|R| rows, no join operator at all (never a nested loop)",
    "q_range_join" -> "range join: intervals exploded to covered buckets, single equi-join on (key, bucket) with the exact range predicate as join filter — no BroadcastNestedLoopJoin",
    "q_sessions" -> "sessionization: session_window merges inside the aggregation — one shuffle by user, no self-join/window cascade",
    "t_pack_sequences" -> "sequence packing: one shuffle by source + in-partition sort + a single streamed flatMapSortedGroups pass (typed boundary, inherently sequential per group)",
    "e_stream_sink" -> "(streaming; plan of the batch read-back shown) append-mode file sink output")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the scale-relevant queries\n\n")
    sb.append(s"Generated by `graft.Plans` over `$sfDir`. Things to check per plan:\n")
    sb.append("`PartitionFilters` (pruned scans), `PushedFilters` (parquet pushdown),\n")
    sb.append("`BroadcastHashJoin` (no corpus-side shuffle), `WholeStageCodegen` spans\n")
    sb.append("(custom expressions keep codegen), absence of accidental `Exchange`s.\n\n")
    audited.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"## $name\n\n$why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n\n")
    }
    // bespoke section: the prefix-partitioned planes=16 index lookup (not a
    // SparkEntry query — the gate's oracle-checked queries use the flat
    // index at small plane counts; this is the web-scale shape)
    locally {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val rnd = new scala.util.Random(29)
      val data = (0L until 2000L).map(i =>
        (i, Seq.fill(24)(rnd.nextDouble() * 2 - 1))).toDF("vec_id", "embedding")
      val idx = java.nio.file.Files.createTempDirectory("graft-plans-annpfx").toString
      val layout = ops.Similarity.Prefixed(planes = 16, prefixBits = 8)
      ops.Similarity.build(data, "vec_id", "embedding", layout, idx)
      val q = data.where(col("vec_id") === 3L).select(col("embedding"))
        .head().getSeq[Double](0)
      val cands = ops.Similarity.candidates(ops.Similarity.open(spark, idx, layout), layout, q, probe = 1)
      val df = ops.Similarity.topKCosine(cands, q, k = 10)
      sb.append("## ann planes=16 prefixed-index lookup (web-scale shape)\n\n")
      sb.append("partition pruning on the 8-bit bucket prefix (bounded 256 dirs at any\n")
      sb.append("plane count) + pushed bucket-IN filter for row-group skipping on the\n")
      sb.append("bucket-sorted data; HOF-free cosine projection\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote PLANS.md (${audited.size + 1} plans)")
    spark.stop()
  }
}
