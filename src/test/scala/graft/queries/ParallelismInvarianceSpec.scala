package graft.queries

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Results must be a function of the DATA, never of the partitioning —
  * the distributed-engine bug class the DuckDB oracle can miss when
  * both runs happen to use the same layout: a min-of-pairs that
  * depends on partition visit order, a first()/head that floats, an
  * aggregation whose merge isn't commutative, a window frame keyed on
  * an under-specified sort. Each sampled query runs in two sibling
  * sessions (spark.newSession() — shared context, independent SQLConf)
  * at shuffle.partitions 4 vs 7 and default parallelism split, and the
  * canonicalized results must match row-for-row.
  *
  * The sample spans every family's plan shapes (agg, window, join,
  * top-k, sketch, codec, governance) but skips the stored-state
  * builders and e2e writers — their cross-run determinism is pinned by
  * their own merge≡rebuild contracts, and their side effects would
  * race between the two sessions here.
  */
class ParallelismInvarianceSpec extends AnyFunSuite with SparkSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private val Sampled = Seq(
    "q01_pricing_summary", "q02_filter_topn", "q03_shipping_priority",
    "q07_window_topk", "q09_rollup", "q10_count_distinct",
    "q16_upsert_precedence", "q19_pivot", "q1c_window_analytics",
    "q30_text_stats", "q33_lang_id", "q36_stratified_sample",
    "q38_hash_sample_k", "q40_dedup_exact", "q44_ngram_jaccard",
    "q50_knn_exact", "q56_pq_adc", "q60_tumbling_window",
    "q63_asof_join", "q65_scd2_intervals", "q84_wav_pcm16",
    "q8h_audio_wht_bands", "q8j_jpeg_restart", "q90_sequence_packing",
    "q98_bm25_topk", "qa0_profile", "qa5_k_anonymity",
    "qa6_randomized_response", "qb0_sorted_neighborhood",
    "qb1_html_extract", "qb3_embedding_hygiene",
    // r15: the compressed-audio decode and the graph-ANN beam walk —
    // qb6 especially, whose per-hop grouped-array beam prune must not
    // depend on how the frontier happens to be partitioned
    "q8k_adpcm_audio", "qb6_graph_ann",
    // r15 cont.: RLE8 video (interframe decode is per-row, must not
    // care how assets split) and the KMV sketches — the bounded
    // TypedImperativeAggregate's partial-merge order is EXACTLY the
    // partitioning-dependence this gate exists to catch
    "q8l_avi_rle8_video", "qb8_kmv_overlap", "qb9_kmv_incremental",
    // r16: the exact-substring islands (the window's rank order and
    // the in-shard walk's shard grouping must not depend on layout)
    // and the stateless µ-law decode
    "qba_exact_substring", "qbb_exact_substring_apply",
    "q8m_mulaw_audio", "q8n_alaw_audio",
    // r16 cont.: the bounded top-k aggregate's partial-merge order and
    // the salted composition's bucket layout are EXACTLY the
    // partitioning-dependence this gate exists to catch
    "qc0_skew_topk_native", "qc1_skew_topk_salted",
    // r16 cont.: the bloom literal's word layout and the salted join's
    // replica matching must be pure functions of the data — a salt or
    // bit position that varied with partitioning would split or merge
    // join buckets
    "qc2_bloom_join_reduction", "qc3_skew_join_salted",
    // r16 cont.: qc4's sketch CONTENTS are layout-dependent by design
    // (MG evictions depend on merge order) — the gate proves the query
    // emits only the layout-invariant guarantee booleans + exact-arm
    // counts, exactly the property its QueryDef claims
    "qc4_heavy_hitters", "qc5_heavy_hitters_incremental",
    // r16 cont.: integer micro-quantized sums are layout-invariant by
    // construction — the gate proves no float summation-order leak
    "qc6_feature_covariance",
    // r17: the PII regex chain is per-row (trivially invariant — the
    // gate guards the inventory's groupBy), the language-ID training
    // collects integer batch updates whose SUM must not depend on
    // partial-merge order, qcb's two-layer walk must not care how
    // either layer's shards are grouped, and qcc's per-doc sorted-
    // array neighbor counts are pure row functions
    // qc9 is the DIRECT training-invariance gate (per-round n_err and
    // every weight cell ship as rows — a partition-order leak that
    // cancels out of qca's checksum still changes this frame)
    "qc7_pii_redact", "qc8_pii_inventory", "qc9_langid_train",
    "qca_langid_apply", "qcb_graph_ann_hnsw", "qcc_repetition_filter",
    "qcd_langid_stratified",
    // r19: the mojibake repair and lexicon shares are pure row
    // functions (the gate guards the plant arithmetic + output sort),
    // and qce additionally proves the codec expression behaves
    // identically across codegen contexts
    "qce_encoding_hygiene", "qcf_lexicon_filter",
    "qcg_unicode_normalize",
    // r20: the Aho-Corasick walk and the composed hygiene chain are
    // pure row functions; the gate additionally proves the automaton
    // reference object behaves identically across task boundaries
    "qch_phrase_lexicon", "qci_hygiene_pipeline", "qcj_phrase_redact")

  private def canon(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case null => "NULL"
      case d: Double => f"$d%.6g"
      case x => x.toString
    }.mkString("|")).sorted.toSeq

  test("sampled queries are invariant to shuffle partitioning " +
    "(4 vs 7 partitions, sibling sessions)") {
    val s4 = spark.newSession()
    s4.conf.set("spark.sql.shuffle.partitions", "4")
    val s7 = spark.newSession()
    s7.conf.set("spark.sql.shuffle.partitions", "7")
    for (name <- Sampled) {
      val fn = graft.SparkEntry.queries(name)
      val a = canon(fn(s4, sfDir).collect())
      val b = canon(fn(s7, sfDir).collect())
      assert(a == b,
        s"$name result depends on shuffle partitioning: " +
          s"${a.size} vs ${b.size} rows, first diff: " +
          a.zip(b).find { case (x, y) => x != y })
      assert(a.nonEmpty, s"$name returned no rows")
    }
  }

  test("sampled queries are invariant to adaptive execution " +
    "(AQE on vs off)") {
    // AQE re-plans at runtime (coalesced partitions, demoted
    // broadcasts, skew splits) — none of which may change an answer
    val on = spark.newSession()
    on.conf.set("spark.sql.adaptive.enabled", "true")
    val off = spark.newSession()
    off.conf.set("spark.sql.adaptive.enabled", "false")
    for (name <- Sampled) {
      val fn = graft.SparkEntry.queries(name)
      val a = canon(fn(on, sfDir).collect())
      val b = canon(fn(off, sfDir).collect())
      assert(a == b, s"$name result depends on AQE: ${a.size} vs " +
        s"${b.size} rows, first diff: " +
        a.zip(b).find { case (x, y) => x != y })
    }
  }
}
