package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Generates PLANS.md: `explain("formatted")` output of the headline
  * queries plus the 100 TB commentary — the plan-audit artifact.
  *
  * Usage: runMain graft.Plans [sfDir]
  *        runMain graft.Plans <outDir> <tag> <q1,q2,...> [sfDir]
  * The second form writes each named query's full formatted plan to
  * `<outDir>/<query>_<tag>.txt` (tag = "before" | "after") — the
  * machine-checkable before/after evidence of an optimization round,
  * e.g. `plans/r18`. sfDir defaults to the sf0.001 testdata dir: plan
  * SHAPE is sf-independent and the smallest sf keeps the dump fast.
  * The master is local[SPARK_GRAFT_CPUS] (default 4), as for Verify
  * and Bench; shuffle partitions stay 8 so plan text stays comparable.
  */
object Plans {

  private val commentary: Seq[(String, String)] = Seq(
    "q01_pricing_summary" ->
      """One scan → partial HashAggregate (map-side combine) → single shuffle of
        |#groups rows → final aggregate → 6-row sort. `PushedFilters` carries the
        |shipdate predicate into the parquet scan; only the 7 referenced columns
        |are read. At 100 TB this is scan-bound and embarrassingly parallel.""".stripMargin,
    "q07_revenue_by_segment" ->
      """lineitem⋈orders shuffles on the orderkey; customer joins broadcast
        |(BuildRight under the threshold) and nation-sized dims never shuffle.
        |At 1000 executors the only wide exchange is the orderkey shuffle —
        |and `core/Layout.writeBucketed` now provides the layout that removes
        |it: both fact tables bucketed by orderkey plan the same join + a
        |same-key rollup with ZERO Exchange (proved on the executed plan in
        |LayoutSpec). The parquet-scan form benched here keeps the shuffle;
        |the bucketed lake is the write-side investment a deployment makes
        |when the pair is joined more often than rewritten.""".stripMargin,
    "q11_pending_pairs" ->
      """The pending-pairs operator: distinct key sets cross-joined (the tiny
        |statuses side is broadcast — BroadcastNestedLoopJoin over a handful of
        |rows is the intended plan for a cross product), then one shuffled
        |LEFT ANTI join against the done set. The universe is never materialized
        |wider than (key-pair) rows: at 697.9M reference pairs this is an
        |anti-join of key pairs, not data rows.""".stripMargin,
    "q29_minhash_lsh" ->
      """Fused graft_shingle_hashes (codegen'd: shingle hashes straight off
        |the word array, no shingle strings, no distinct exchange) → 32 MIN
        |agg columns (map-side combined — the FIRST shuffle in the whole
        |query is #docs signature rows) → band explode → bucket-size guard
        |(tiny aggregate, AQE-broadcast back, buckets > 4096 dropped with
        |observed metrics surfaced by Bench's listener) → equi-join on
        |(band, bkey) buckets → est-jaccard filter NARROW inside the join
        |stage → distinct over the three scalar survivor columns only.
        |Signature arrays never enter a wide shuffle — the r2 plan ran
        |distinct over the full candidate explosion with both 32-long sigs
        |aboard and recorded 40.2 s at sf0.1; this plan records 2-4 s
        |(local-VM run noise; per-query gc_ms in the bench JSON makes
        |drift visible). Candidate volume is Σ bucket², the canonical
        |100 TB dedup shape. The survivor set is materialized ONCE per
        |corpus dir to a parquet PAIR LAKE (the SimHash-lake
        |discipline): q29 itself, q66's verify, q92's leakage audit,
        |and the whole cluster family (q75/q79/q85/q89/q100/q108 via
        |the component lake) read 24-byte pair rows back instead of
        |re-running the signature pipeline — at 100 TB the pair set is
        |the corpus-version artifact eight reports share.""".stripMargin,
    "q30_simhash_neardup" ->
      """Signature build is one shuffle (60 vote agg columns; the tf
        |aggregation keys on the packed 8-byte word hash, so word bytes
        |never shuffle). Pair-stage plan choice is AUTOMATIC: a census
        |aggregation over the band buckets computes the EXACT banded
        |candidate volume (Σ n·(n−1)/2 per bucket) and picks the banded
        |join only when it prunes the pair space by more than the
        |kernel's ~32× per-candidate cost advantage. On this testdata
        |the shared vocabulary clusters signatures (banding emitted
        |27.6M candidates vs 12.5M raw pairs at sf0.1), so the census
        |keeps the TILED broadcast kernel (Blocked.tiledPairScan:
        |≤64 K-row tiles, driver memory bounded by one tile, primitive
        |Long.bitCount loop; at cluster scale pass eagerTiles=true —
        |BlockedSpec pins equality, Blocked's scaladoc spells out the
        |residency/recovery trade). A spread-signature corpus census
        |instead activates simHashBandedPairs on the MINIMAL pigeonhole
        |cover — 7 bands of 8-9 bits (256-512 buckets/band, ~51×
        |pruning on uniform sigs, vs 64 buckets and ~6.4× for an equal
        |10×6 split) — the linear-ish 100 TB path. DedupSpec pins both
        |paths output-identical and the census decision on both
        |regimes. The generated pairs land ONCE in a
        |hamming-partitioned parquet lake (per corpus dir, process
        |lifetime); q30 re-runs and the q109/q112 reports are parquet
        |scans of 20-byte rows — the generation pass is the corpus-
        |version artifact, not a per-report cost.""".stripMargin,
    "q32_embed_neardup" ->
      """Exact cosine threshold join. The sim distribution is continuous through
        |0.4 (no LSH can match exactly), so: one linear pass to (vec, norm),
        |then Blocked.tiledPairScan — ≤8 K-vector tiles broadcast one at a
        |time, fused multiply-add kernel per partition, DRIVER memory bounded
        |by one tile (lazy-union mode keeps all tile broadcasts resident on
        |executors until the action ends; eagerTiles=true bounds residency to
        |one tile at the cost of executor-loss recovery — Blocked's scaladoc
        |spells out the trade and the reliable-checkpoint variant). 36.7 s (r1
        |BroadcastNestedLoopJoin + interpreted HOF dot) → ~1 s measured at
        |sf0.1. Approximate recall belongs to q29/q33.""".stripMargin,
    "q66_lsh_verified" ->
      """The composed dedup pipeline (the reference's shape: LSH candidates →
        |exact verify). q29's candidate stage (served from the per-corpus
        |pair lake — the signature pipeline never re-runs here) feeds a
        |shingle-Jaccard verify
        |that touches only candidate pairs: the candidate set broadcasts,
        |the shingle stream is semi-join pruned to candidate docs, and the
        |one wide join is keyed on (doc, shingle). Verify cost tracks
        |candidate volume, never corpus² — q28's self-join stays a
        |demonstrator. Shingles are recomputed per subtree, not cached:
        |persisting the 15 M-row stream measured 2× slower than re-running
        |the codegen'd explode.""".stripMargin,
    "q35_island_time_ranges" ->
      """The flagship islands pipeline: narrow smoothing UDF (measured 100×
        |faster than the HOF form that re-evaluates the convolution per
        |element), islands found per row by the find_islands generator (no
        |explode, window or shuffle), then an interval-overlap join that is
        |equi on vec_id + range predicate — never a blind theta join.""".stripMargin,
    "q47_lm_broadcast_score" ->
      """W2+W5: assembly is one shuffle of text bytes keyed by source
        |(sort_array inside the aggregate gives deterministic in-group order);
        |the LM ships once per executor as a broadcast and scoring is a narrow
        |per-row UDF — the Spark replacement for the reference's model-major
        |fleet scheduling + per-client LRU.""".stripMargin,
    "q51_survey_pipeline" ->
      """The §3.3 survey DAG end-to-end: dimension crosses stay broadcast, chat
        |calls run in mapPartitions (one client per partition — the fleet
        |collapse), parsing is a scalar UDF, and axis scoring is one shuffled
        |groupBy on the run key followed by a 1-row broadcast of the maxes.""".stripMargin,
    "q37_token_budget_chunks" ->
      """The order-dependent operator: a greedy pack + forward-merge fold that
        |only parallelizes ACROSS groups. flatMapGroups with an explicit
        |in-group sort (never partition order), additive token counters keep
        |the fold O(total length). One shuffle on the group key; at 100 TB
        |the group (a video) is the natural unit and no group outgrows a
        |task. Its DuckDB oracle replays the fold with two recursive CTEs —
        |the only operator whose oracle needed recursion.""".stripMargin,
    "q68_decontaminate" ->
      """Benchmark decontamination: the distinct benchmark gram HASHES (8-byte
        |portable polyhash keys, not gram strings) broadcast, and the training
        |gram stream joins map-side — the corpus never shuffles on gram.
        |Benchmark sets are small by nature, which is what makes the broadcast
        |side bounded at any corpus size; the n-gram length is a semantic
        |constant mirrored in the oracle.""".stripMargin,
    "q75_dup_clusters" ->
      """Connected components over the LSH survivor pairs — the dedup
        |decision stage. The corpus-scale LSH pipeline runs ONCE (the pair
        |set is persisted before iteration); each propagation round is one
        |keyed shuffle of (node, label) rows over the SMALL pair graph, and
        |convergence is an O(1) label-sum check (labels are per-node
        |non-increasing, so an unchanged sum IS the fixed point — no
        |change-count join). Rounds = cluster diameter; near-dup families
        |are shallow. The pairs come from the per-corpus LSH pair lake and
        |the resulting labels are themselves materialized to a COMPONENT
        |LAKE: propagation (the one stage whose cost is round-count × job
        |overhead) runs once per corpus version, and q79/q85/q89/q100/q108
        |read the 16-byte label rows back. At 100 TB the loop runs on the
        |pair lake unchanged — the corpus never re-enters after the
        |candidate stage.""".stripMargin,
    "q76_srp_lsh" ->
      """The LSH-bucketed scale path for embedding near-dup: 60-bit SRP
        |signatures built in one narrow pass (integer-lattice hyperplanes,
        |oracle-replayable), 10×6-bit bands as equi-join bucket keys, exact
        |cosine verify only on candidates. The band join shuffles 8-byte
        |signatures + band keys — vectors reach only the ~|candidates|
        |verify joins. Complements exact q32: recall/cost is the banding
        |dial, and on uniform random test vectors (LSH's worst case) the
        |spec pins subset-of-exact + a recall floor rather than claiming
        |production recall.""".stripMargin,
    "q79_cluster_canonical" ->
      """The dedup DECISION stage: keep the best-quality doc per cluster.
        |Quality is one narrow text pass; the component map (docs that
        |survived LSH banding — tiny, read from the component lake, not
        |re-propagated) broadcast-joins onto it, so the
        |corpus never shuffles for the join; the winner window then
        |moves only 24-byte (doc_id, component, quality) rows. Reading
        |text once and shuffling metadata is the whole plan: the naive
        |alternative (join clusters, window, then a second corpus scan
        |for singletons) doubles the dominant cost — the text scan.""".stripMargin,
    "q80_bloom_decontaminate" ->
      """Sketch-gated decontamination. q68 broadcasts the exact 8-byte
        |benchmark gram set; at real benchmark-suite sizes that is GBs
        |per executor. Here the broadcast is a Bloom filter (~1 byte/gram
        |at 3% fpp, two orders smaller), the gate runs NARROW on the
        |corpus gram stream (no shuffle), and the exact verify join
        |behind it sees only ~|hits| + fpp·|grams| rows — small enough
        |to shuffle-join without broadcasting the exact set anywhere.
        |The result is bit-identical to the exact plan for any fpp
        |(bloom has no false negatives; the verify join kills false
        |positives), which the spec pins by scalar replay.""".stripMargin,
    "q81_pack_blocks" ->
      """Concat-and-cut sequence packing: per source, an exclusive
        |prefix sum over (source, doc_id, tok) rows — text never enters
        |the shuffle — then integer block arithmetic, all codegen'd.
        |One narrow window shuffle total. A single giant source would
        |serialize its partition; the segmented prefix-sum rewrite
        |(per-partition partials + broadcast offsets) is semantics-
        |identical and the window form IS that plan at source
        |granularity.""".stripMargin,
    "q85_cluster_centroids" ->
      """Per-cluster embedding centroids with DETERMINISTIC distributed
        |float aggregation: each element quantizes to fixed-point
        |(floor(x·2^20) — exact, per-element) BEFORE the sum, so the
        |aggregation is integer-exact and commutative — immune to
        |summation order, which means immune to partitioning, retries,
        |and engine differences. A naive double SUM disagrees in the
        |last ulps across any of those. The broadcast component map
        |prunes the explosion to clustered docs BEFORE the 64-way
        |posexplode, so per-dim rows are |clustered docs|·64, not
        |corpus·64; one keyed aggregation ends the plan.""".stripMargin,
    "q89_cluster_medoids" ->
      """Cluster representatives without float aggregation: the mean
        |comparison is rescaled to n²·‖x−μ‖² = Σ(n·fp − Σfp)² over the
        |q85 fixed-point values — integers end to end, so the distance
        |is exact under any partitioning and the per-doc fold runs in
        |ONE row-level HOF (no order-dependent SUM of doubles). The
        |(component, n, Σfp) frame is tiny and broadcast; the rank
        |window moves only (doc, component, dist2) rows. The quantized
        |frame is persisted and shared by the centroid branch and the
        |per-doc join (member counts ride the same per-dim aggregation
        |q85 ships), so the embedding payload is read once.""".stripMargin,
    "q90_bpe_merges" ->
      """BPE training in the shape that scales: the corpus contributes
        |exactly ONE pass (word-freq aggregation, map-side combined —
        |at 100 TB this is the only big job), and the merge loop runs
        |on the vocab-sized frame: per round, a pair-count aggregate
        |over exploded adjacent symbol pairs, a 1-row argmax action
        |(the rule is driver state, as in any BPE trainer), and a
        |codegen'd string fold that applies the merge. Vocabularies
        |are power-law small, so round cost is independent of corpus
        |size. Ties break lexicographically — the determinism the
        |unrolled DuckDB replay depends on.""".stripMargin,
    "q58_media_decode" ->
      """The decode seam with REAL codecs across modalities:
        |javax.imageio header parse (PNG IHDR / BMP BITMAPINFOHEADER),
        |javax.sound.sampled RIFF/WAVE fmt+data chunk parse, and a
        |pure-JDK ISO-BMFF box walk (MP4 ftyp/moov/mvhd/trak) inside
        |the mapPartitions batch operator — payload bytes never
        |shuffle (the parallelism spread exchanges (id, text) rows
        |BEFORE encoding, so the codec legs run 32-way instead of on
        |the single scan partition), one reader per payload,
        |header-parse not decode (metadata extraction at 100 TB must
        |not rasterize pixels or inflate samples). Unreadable payloads
        |degrade to
        |the documented deterministic fallback instead of failing the
        |pass; q58's fixture keeps a raw-blob eighth so the degraded
        |path stays tested.""".stripMargin,
    "q61_phash_neardup" ->
      """Block-hash perceptual near-dup over binary payloads. Band geometry is
        |chosen for scale, not convenience: exact recall at hamming ≤ k needs
        |> k bands, so the hamming ≤ 3 cutoff (the standard for 64-bit
        |fingerprints, Manku et al.) buys 4 bands × 15 bits = 32k buckets per
        |band — candidate volume Σ bucket² stays sub-quadratic where narrow
        |6-bit bands would saturate 64 buckets into all-pairs. Signatures are
        |8 bytes/doc; payload bytes never reach the join.""".stripMargin,
    "q93_perplexity_filter" ->
      """The LM quality gate, corpus-scale: bigram items explode to small
        |rows, TWO map-side-combined count tables key on the gram, and
        |scoring is two hash joins on the same keys — at 100 TB the gram
        |tables shuffle once each with partial aggregation and the vocab
        |size rides as a broadcast scalar. The keep flag compares the
        |DECIMAL-rounded perplexity both engines emit, so the ln-ulp
        |difference between libm implementations cannot flip it.""".stripMargin,
    "q94_dup_span_removal" ->
      """Substring-dedup rewrite: dup-gram starts come off the fused
        |shingle-hash array (8-byte keys, no gram strings), coverage
        |expansion is ≤5 ints per duplicated start, and run-merging is a
        |row_number window keyed by doc. The only wide shuffle of word
        |data is the per-doc rebuild groupBy — keyed on doc_id, the same
        |key the coverage anti-join uses, so AQE chains them. The
        |corpus-wide duplicated-hash table is the q74 count, map-side
        |combined. The (doc_id, idx) coverage set itself is a
        |per-corpus LAKE shared with the q100/q108 funnel family —
        |the gram explosion runs once per corpus version.""".stripMargin,
    "q95_semdedup" ->
      """SemDeDup's bet made explicit in the plan: assignment is one
        |narrow broadcast-argmax pass (no join, no shuffle), vectors
        |shuffle ONCE keyed by bucket, and the pairwise stage is
        |Σ bucket² — at 100 TB the centroid count grows with N to hold
        |bucket size constant, which keeps the quadratic term bounded
        |while q32's exact θ-join stays O(N²). The witness aggregation
        |moves (id, id) pairs only.""".stripMargin,
    "q96_importance_weights" ->
      """The hashing IS the scale story: the per-bucket count table is
        |bounded at 65536 rows no matter the corpus, so the scoring join
        |is always a broadcast — importance weighting at 100 TB costs
        |one gram explode (8-byte bucket ids, gram text dies at the
        |hash), ONE map-side-combined count pass producing both
        |distributions, and a narrow per-doc rollup. The target_like cut
        |is relative (pool mean) because absolute weight scale moves
        |with corpus size.""".stripMargin,
    "q97_ann_recall" ->
      """Recall measurement as an operator: ground truth brute-forces
        |only the SAMPLED query set (broadcast against a linear scan —
        |the one place O(N·q) is the intended plan), the IVF side is
        |q33's bucket-pruned pipeline, and the compare joins two
        |k-row-per-query frames on (query, neighbor). At scale this is
        |how an index rollout is gated: sample queries, one scan,
        |exact-vs-index diff.""".stripMargin,
    "q98_source_overlap" ->
      """Dataset-overlap audit: per-source DISTINCT gram hashes self-join
        |on the 8-byte hash — the shuffle carries (source, hash) pairs,
        |never text, and a gram present in k sources contributes k² ≤
        |#sources² rows. Output is bounded by the source-pair square.
        |Containment is one exact int division, bit-identical across
        |engines with no rounding discipline needed.""".stripMargin,
    "q99_cdc_chunks" ->
      """Content-defined chunking: boundary ends come off the fused
        |rolling shingle-hash array, per-token chunk ids are ONE
        |running-sum window keyed by doc, fingerprints hash each
        |re-assembled chunk once, and recurrence counts key on the
        |8-byte fingerprint. Corpus text moves exactly twice (token
        |explode, chunk groupBy), both keyed by doc_id — boundaries
        |resynchronize inside repeated text, which is what makes the
        |fingerprint dedup work on shifted copies where q36's fixed
        |windows cannot.""".stripMargin,
    "q100_dedup_funnel" ->
      """The funnel is composition, not recomputation: the exact rule is
        |one md5 groupBy, the cluster rule is the SHARED q79 frame, the
        |span rule is the SHARED q94 coverage positions — three
        |metadata joins keyed on doc_id, then ONE conditional
        |aggregation (count/sum over `when` guards) producing all four
        |stages in a single pass over the shared frame, unpivoted by a
        |4-row stack. The r4 shape (four filtered aggs unioned)
        |re-evaluated the whole LSH/components/coverage upstream per
        |stage — 16.3 s at sf0.1, 4× the work at any scale; the single
        |pass (7.4 s) needs no persist at all. Stages are corpus-wide
        |keep rules intersected, so the report can never disagree with
        |the standalone operators it summarizes.""".stripMargin,
    "q101_kmeans_refine" ->
      """Iterative refinement in Spark's sweet spot: per round, ONE
        |narrow broadcast-argmax pass (no join, no shuffle — the same
        |assignment kernel q33/q95 ship) plus a map-side-combined
        |(cid, dim) aggregation that collapses to k·d cells; driver
        |state between rounds is k·d doubles. Centroid updates ride
        |q85's floor(x·2^20) fixed-point sums, so both engines derive
        |bit-identical centroid doubles and the next round's argmax
        |agrees exactly — the property that lets the oracle unroll the
        |rounds instead of trusting float luck. Rounds cost one scan
        |each and don't grow with N.""".stripMargin,
    "q102_source_drift" ->
      """Drift monitoring bounded by construction: the (source, bucket)
        |count frame caps at #sources·65536 rows no matter the corpus,
        |the corpus marginal derives from it by a second tiny
        |aggregation, and the KL arithmetic never touches a corpus-
        |sized row again. Occupied-support summation makes it the exact
        |empirical KL (zero-count terms are identically zero), so the
        |only cross-engine discipline needed is the q93 DECIMAL
        |rounding on the ln.""".stripMargin,
    "q103_winnow_fingerprints" ->
      """Winnowing's guarantee is positional, so the plan keeps
        |positions 8-bytes-narrow: gram hashes off the fused shingle
        |array, window membership a ≤w-row explode per gram, per-window
        |argmin ONE lexicographic struct-MIN aggregation (map-side
        |combined, identical ordering both engines), sharing keyed on
        |the fingerprint. Text never shuffles; any ≥7-word shared
        |substring is provably caught — the property q26's single hash
        |and q99's probabilistic boundaries cannot offer.""".stripMargin,
    "q106_delta_dedup" ->
      """The every-ingest-cycle shape: one signature pass feeds both
        |sides, and the asymmetric banded join keys on (band, bkey) so
        |candidate volume is Σ bucket_new·bucket_lake — proportional to
        |the DELTA, never the lake square (q30 is the one-time
        |backfill; this is day N+1). The minimal 7-band pigeonhole
        |cover (≤6 differing bits ⇒ ≥1 shared 8-9-bit band — shared
        |geometry with q30) makes the banded plan exactly equivalent
        |to the oracle's brute-force scan; hamming is computed and
        |filtered BEFORE the pair distinct, so only ≤6-bit survivors
        |shuffle, and the nearest-verdict window moves (id, id, int)
        |rows only. The r8 full-catalog reading (10.3 s) was probed in
        |isolation in r9: 1.8 s at the same sf0.1 — the cached
        |signature relation's triple scan (lake side, fresh side,
        |verdict join) is cheap; the delta vs interleaved runs is
        |catalog-load contention on the shared 32 cores, not plan
        |cost, so the cache stays (a lake-file materialization would
        |add a write+read round trip to save nothing).""".stripMargin,
    "q104_gram_matrix" ->
      """One-pass distributed linear algebra: 4096 upper-triangle cells
        |from a single map-side-combined aggregation whatever the
        |corpus size, each per-row product quantized BEFORE summation
        |so cell sums are integer-exact and commutative across
        |partitionings and engines — the q85 discipline applied to the
        |PCA primitive. The per-row explode is 64·65/2 cells of 16
        |bytes; embedding payloads never shuffle.""".stripMargin,
    "q105_pmi_collocations" ->
      """Phrase mining where every frame after the first aggregation is
        |vocab-bounded: pair and unigram counts map-side combine,
        |totals broadcast as scalars, and the top-K window ranks the
        |count table, never the corpus. Cross-engine ordering is safe
        |because both engines derive the PMI double from identical
        |integer counts — equal-ratio count triples give bit-equal
        |doubles and fall through to the lexicographic word
        |tie-break.""".stripMargin,
    "q63_csv_ingest_roundtrip" ->
      """S6 end-to-end. Fixture construction is itself distributed
        |(repartition-by-source partitioned CSV write → one file per
        |source, then O(#sources) driver renames — the r4 version
        |streamed every row through a driver toLocalIterator loop);
        |the operator under test is then ONE spark.read.csv over the
        |whole drop folder with vid_id recovered from the file name, a
        |header-only validation pass anti-joined broadcast, and the
        |derived-column chain ending in the per-video running-count
        |window — the only shuffle.""".stripMargin,
    "q108_removal_ledger" ->
      """The per-doc provenance complement of q100: the SAME shared
        |frame (exact keep rule + q79 cluster canonical + q94 span
        |coverage, three doc_id-keyed metadata joins), emitted per doc
        |with the FIRST removing stage as its disposition instead of
        |rolled up — "why is doc X not in the training set?" as a
        |query. DedupSpec pins that the ledger aggregates exactly to
        |the funnel's four stage rows, so the two artifacts can never
        |disagree.""".stripMargin,
    "q109_neardup_sweep" ->
      """Threshold calibration from data: the pairs come from the
        |materialize-once PAIR LAKE (generated by whichever family
        |member ran first, census-selected plan), so this whole report
        |is two conditional aggregations over a parquet scan of
        |20-byte rows — 7 cutoffs cost two pair-table scans, never a
        |corpus re-scan. The per-doc side explodes pairs to (doc, min
        |hamming) so "docs with at least one partner at ≤ t" is a
        |count, not a distinct per threshold.""".stripMargin,
    "q110_quality_sweep" ->
      """Calibration for the quality cut: ONE narrow text pass builds
        |(n_words, fixed-point quality), one conditional aggregation
        |answers all 10 candidate thresholds, a 10-row stack unpivots.
        |Keep decisions compare integers (the q78 floor(quality·1e6)
        |device) and the per-threshold sums are integer sums of those
        |fixed-points — the whole report is engine- and
        |partitioning-exact with zero float aggregation.""".stripMargin,
    "q111_embedding_qc" ->
      """The pre-index sanity audit of an embedding lake: per dim, the
        |count, fixed-point mean component, min/max range and
        |zero-element (dead-dim) count — one posexplode pass into a
        |64-group map-side-combined aggregation. At 100 TB this is a
        |single scan; the q85 fixed-point discipline makes every output
        |integer-exact whatever the partitioning.""".stripMargin,
    "q127_incremental_shard_export" ->
      """Re-export cost ∝ change volume, not corpus size: the q121
        |hash diff (id + 32-char hash rows, content never shuffles)
        |plus one narrow window pass yields a per-source first-dirty
        |token offset; under concat-and-cut the dirty region is a
        |suffix, so block cleanliness is one comparison. Kept blocks
        |are served from the v1 lake read-back (hash-asserted equal to
        |a full re-export by the oracle); dirty blocks recompute from
        |snapshot B and land in a source-partitioned delta lake — a
        |clean source gets no directory, so the write itself is
        |incremental.""".stripMargin,
    "q126_punkt_word_tokenize" ->
      """The word_tokenize parity closer: punkt boundary judgement is
        |inherently multi-pass token annotation (no functions._ form),
        |so it runs as ONE narrow per-doc UDF over a broadcast,
        |vocab-bounded parameter table ingested through the manifest
        |migration path — punkt segments each doc once and the token
        |array, sentence count, and glued count all come from that
        |single parse (the r6 three-UDF form re-ran punkt twice per
        |row). The parse is preceded by ONE deliberate exchange of
        |~300-byte rows: the corpus file is a single scan partition at
        |bench scale, and without the spread the CPU-heavy parse ran
        |on one thread (measured: whole-query ≈ sequential parse
        |cost; 4.9 → 1.0 s warm). Parse cost dominates row movement
        |at every scale. Manifest params are memoized per JVM (the S8
        |model-load discipline); the parameter tables are model-sized
        |(a few hundred KiB for stock English), never
        |corpus-sized.""".stripMargin,
    "q125_contamination_report" ->
      """The release-gate rollup of q68: the broadcast benchmark hash
        |set and keyed flag rollup are unchanged; the corpus re-enters
        |only as a narrow (doc_id, source) projection joined to the
        |tiny flagged frame. Rates are integer per-mille floor-divs —
        |engine-exact, no float anywhere.""".stripMargin,
    "q124_token_budget_allocation" ->
      """The data-recipe solver: one narrow token pass collapses to a
        |#sources-row frame, and Hamilton's largest-remainder method
        |runs as integer floor-div/mod plus a remainder-rank window
        |over that tiny frame — Σ alloc ≡ budget exactly, no float
        |anywhere, bit-identical on any engine or partitioning. The
        |Long product bound (T ≲ 4.3e9 tokens per apportionment
        |domain) and its DECIMAL(38) escape are documented at the
        |site.""".stripMargin,
    "q123_interleave_schedule" ->
      """The mixture's read-order artifact: fractional-position keys
        |(one IEEE division of identical integers — engine-exact) give
        |each source ~every 1/share-th slot. The contiguous global
        |index comes from zipWithIndex over the range-partitioned
        |sort — the one legitimate RDD drop-down (a DataFrame
        |row_number without partitionBy would funnel the corpus
        |through ONE task); partitions number themselves in parallel
        |from exclusive-prefix offsets.""".stripMargin,
    "q122_classifier_score" ->
      """The model-based quality filter: token explode → 8-byte hashed
        |feature buckets (text dies at the hash) → broadcast join with
        |the 4096-row weight table → one per-doc rollup. Weights stay
        |INTEGER through the aggregation; the single division +
        |DECIMAL rounding per doc makes keep flags engine- and
        |partition-exact. A learned model swaps the table contents,
        |not the plan.""".stripMargin,
    "q121_snapshot_diff" ->
      """The between-crawls release gate: ONE full outer join on
        |doc_id comparing md5 hashes — content bytes never shuffle,
        |only (id, hash, source) rows — classifying every doc as
        |added/removed/changed/unchanged, then a per-source rollup.
        |The derived snapshot views plant all four branches so the
        |value gate exercises each.""".stripMargin,
    "q119_ivf_delta_assign" ->
      """The ANN side of the every-ingest cycle (q106's shape for
        |vectors): only the new batch is assigned — one narrow
        |broadcast-argmax pass, cost ∝ delta × k — and the index
        |update is an APPEND of |delta| rows into the q113 lake's
        |bucket directories, never a rebuild. The DECIMAL-rounded
        |centroid similarity rides along as the routing-confidence
        |signal a monitor alerts on.""".stripMargin,
    "q120_pack_efficiency_sweep" ->
      """Block-size calibration from the per-source token totals alone:
        |one narrow text pass, a #sources-row aggregate, and every
        |candidate size answered by integer ceil-div arithmetic in one
        |conditional aggregation — the corpus is never re-scanned per
        |size. Engine-exact by construction (no floats anywhere).""".stripMargin,
    "q117_salted_join_rollup" ->
      """Skew.saltedJoin value-checked through the driver hash: the
        |salt spreads each (potentially hot) source key over 8
        |sub-keys — salt× parallelism for salt× duplication of the
        |tiny dim side — and the oracle is the PLAIN join's rollup, so
        |salting must be exactly invisible in the result. SkewSpec
        |pins row-level equality; this pins it end-to-end.""".stripMargin,
    "q116_token_shard_export" ->
      """The pipeline's last mile, end-to-end: encode (broadcast vocab
        |join over the token explode — ids are 8-byte rows from there
        |on), concat-and-cut into B-token blocks across doc boundaries
        |(ONE per-source window over the tiny doc-length frame for
        |offsets), one (source, block) aggregation building each
        |block's ordered id array, one partitioned shard write, and a
        |checksummed read-back. Text never shuffles; the
        |order-sensitive block polyhash pins token ORDER through the
        |whole trip, which n_tok/id_sum alone cannot.""".stripMargin,
    "q115_hard_negatives" ->
      """Hard negatives for contrastive training: the q31 broadcast-
        |queries × linear-scan shape with the [0.25, 0.4) band filter
        |BEFORE the rank window — the window's shuffle carries only
        |in-band survivors, not the full scored stream. Band edges
        |compare raw doubles; the dot is the identical left-to-right
        |IEEE fold both engines run (q32's discipline), so the band
        |membership agrees bit-for-bit.""".stripMargin,
    "q133_delete_contaminated" ->
      """Targeted deletion on the manifest lake — the operator the
        |decontamination reports (q68/q80) feed. Delta's DELETE shape:
        |one predicate-pushed detection scan tags matching rows with
        |input_file_name, only files containing matches are rewritten
        |(keeping !predicate rows), and one commit swaps them — cost
        |∝ contaminated files, never lake size; a 10-id delete in a
        |range-clustered lake rewrites exactly one file (LayoutSpec).
        |Rewrites are independent jobs submitted through a bounded
        |pool (serial submission measured 2.6x slower on a worst-case
        |all-files delete — the compaction lesson again).
        |Files emptied by the delete leave the ledger via their footer
        |row count (metadata, no extra pass). The commit is #op:delete
        |and CDC-invisible (rewritten survivors are not new rows);
        |txn high-waters and the committed schema ride through. At
        |100 TB this plus stats-clustering is the GDPR/contamination
        |answer: the detection scan prunes to candidate files via the
        |manifest, the rewrite touches only them.""".stripMargin,
    "q132_cdc_read" ->
      """Incremental/CDC reads straight off the manifest log: each
        |commit records its operation (#op:append/batch/compact), so
        |"rows added since version N" is a metadata diff — files(v) −
        |files(v−1) for every non-compaction commit in the window —
        |followed by a scan of exactly those delta files. Compaction
        |commits are skipped entirely: they rewrite bytes, not
        |content, and a CDC consumer that re-saw compacted rows would
        |double-apply every record the optimizer touched. Cost scales
        |with the delta, never the lake — the primitive the q127-style
        |incremental re-export consumes instead of diffing data.
        |Vacuum bounds the CDC window (retired manifests throw a
        |named error, not silent undercounting).""".stripMargin,
    "q131_data_skipping" ->
      """Manifest-level data skipping: each committed file line carries
        |its footer's min/max of the clustering column (read at commit
        |— a metadata pass, never a data scan), so a range read prunes
        |files from the MANIFEST before any file is opened. That's the
        |layer Spark's own row-group skipping can't give you: row-group
        |stats still cost an open+footer round trip per file, which at
        |100 TB on object storage IS the latency of a point lookup.
        |The precise predicate re-applies on survivors and pushes into
        |the kept files' scans, so the two skipping layers compose.
        |Untracked files are conservatively kept, and compaction
        |re-derives stats from its outputs' footers only when every
        |input was uniformly tracked — never guessed. The oracle pins
        |content equality plus the opened<total invariant; LayoutSpec
        |pins exact prune counts on a controlled 10-file layout.""".stripMargin,
    "q130_time_travel" ->
      """Snapshot isolation falls out of the manifest protocol for
        |free: commits only add manifest versions and never delete
        |data files (vacuum is the explicit GC), so any historical
        |version is a complete consistent read — its file list IS the
        |isolation. The query reads as-of-v1 AFTER a later append and
        |a compaction physically replaced the layout, and the v1
        |aggregate must still state exactly the first append. The
        |exactly-once streaming half (per-app #txn high-waters carried
        |through every commit, foreachBatch re-delivery skipped) is
        |LayoutSpec's — a deterministic oracle can't replay a crash,
        |but the spec drives a real MemoryStream through streamSink
        |and replays batch 0 by hand.""".stripMargin,
    "q129_manifest_lake" ->
      """Manifest-committed lake: the concurrent-writer-safe evolution
        |of q128's rename-swap, the same load-bearing core as Delta/
        |Iceberg over plain partitioned parquet. The lake's contents
        |are DEFINED by `_manifests/vN` (a text file of relative data
        |paths); readers open exactly the named files — zero directory
        |listing, so uncommitted/staged files are invisible and a
        |crashed writer leaves garbage bytes, never garbage rows. The
        |commit primitive is hard-link CAS (`link(2)` fails EEXIST
        |atomically; POSIX rename REPLACES, so a rename "commit" would
        |let two racers both win). CAS losers rebase: appenders
        |set-union their paths (lossless by construction); compaction
        |keeps files appended since its snapshot and abandons a
        |partition a faster compactor already swapped. Nothing is
        |deleted at commit — vacuum reclaims unreferenced files after
        |a version-grace window. The oracle pins the ledger arithmetic
        |(two fragmented appends' file census in, bin-packed census
        |out, content through v1→v2→v3→vacuum); LayoutSpec pins the
        |races themselves (a commit landing inside compaction's
        |snapshot→commit window, 4 appenders + compactor in parallel).
        |At 100 TB the manifest IS the scan plan; S3 swaps the one CAS
        |call for a commit service, the protocol is unchanged.""".stripMargin,
    "q128_compact_lake" ->
      """Small-file compaction, the lake-maintenance tool incremental
        |appends make necessary (every q127-style delta, partition
        |rebuild, and streaming micro-batch lands more part files; at
        |100 TB a 10k-file partition costs 10k opens per scan). One
        |footer-weight census (groupBy(partition).count reads zero
        |data columns) prices every partition; only partitions whose
        |file count exceeds ceil(rows/target) are rewritten, each via
        |a shuffle-free coalesce into a dot-prefixed staging dir that
        |Spark's file index cannot see, then two atomic renames. Cost
        |is ∝ fragmented partitions, never ∝ lake size; crash states
        |between the renames self-heal on the next run (LayoutSpec
        |pins all three). The oracle checks BOTH planes: content
        |(n/ids/chars per source) and the physical file census —
        |files_before = ceil(n/16) from the deliberately fragmented
        |write, files_after = ceil(n/64) from the coalesce. Rewrite
        |jobs are submitted concurrently (bounded pool) with the data
        |schema resolved once — sequential submission with per-job
        |inference measured 2.4x slower on a 20-partition lake.""".stripMargin,
    "q114_score_lake_roundtrip" ->
      """The production score-lake layout, value-checked: writeScoreLake
        |lands bucket-partitioned + sorted-within-partition files; the
        |read side is seven model-major scoresFor reads, each pruning
        |to its bucket partition BEFORE any file opens (LayoutSpec
        |proves the scan shape; this query proves the VALUES survive
        |the layout). Misrouted rows, bucket-math drift, or a
        |sort-corrupting write all break the hash against the
        |straight-from-documents oracle.""".stripMargin,
    "q112_neardup_source_matrix" ->
      """The cross-feed mirroring audit at the NEAR-dup level (q98 is
        |the exact-gram sibling): the materialize-once PAIR LAKE (a
        |parquet scan once the family has run) joins the narrow
        |(doc_id, source) projection twice on doc_id, source pairs
        |canonicalize with least/greatest, and the rollup is bounded by
        |#sources². Pair volume, never corpus², drives the
        |cost.""".stripMargin,
    "q113_ivf_index_roundtrip" ->
      """Index-as-artifact: the q33 assignment pass lands ONCE in a
        |bucket-partitioned parquet lake (IVF inverted lists as
        |directories); the serve path reads the lake and answers
        |queries from nprobe bucket partitions — dynamic partition
        |pruning under the broadcast probe join, static pruning for
        |literal-bucket lookups. Doubles round-trip parquet exactly,
        |so served ranks are bit-identical to q33's and the oracle is
        |shared.""".stripMargin,
    "q107_model_manifest_roundtrip" ->
      """The S7 migration closer: the reference's pickled NLTK models
        |leave Python once, as a JSONL n-gram-count manifest
        |(tools/export_model_manifest.py, public nltk API only);
        |ModelManifest.ingest rebuilds every model DISTRIBUTED — one
        |JSON scan, one groupByKey(model_key) shuffle, each group a
        |vocab-bounded gram table serialized on an executor — into the
        |(model_key, model_data) blob lake S8 already loads and
        |broadcasts. Context counts are derived, not trusted
        |(count(ctx) = Σ_w count(ctx++w), exact for MLE), and the
        |scoring tail is q47's broadcast pass, so the oracle replays
        |the whole trip relationally.""".stripMargin,
    "q136_hnsw_delta" ->
      """Bucket-granular incremental index update: the 1% delta is
        |assigned by the shared broadcast-argmax pass, dirty buckets
        |rebuild over merged member sets (one task each), clean
        |buckets' adjacency rows copy forward verbatim — and because
        |construction is deterministic the result is byte-identical to
        |a from-scratch build (spec-asserted). Update cost follows the
        |dirty buckets' sizes, never corpus size. The emitted ledger is
        |the relational (oracled) surface; the graph bytes are not
        |oracled. A BUCKET must fit one task — bucket count grows with
        |the corpus, so search cost is nprobe graphs x O(ef·M·d),
        |corpus-size-free.""".stripMargin,
    "q137_leakage_safe_split" ->
      """The constructive fix for q92's audit: split unit = near-dup
        |component, so no near-dup pair can straddle train/eval by
        |construction. The component map (tiny — only docs surviving
        |LSH banding) broadcast-joins onto a doc_id projection; the
        |split side is one integer multiplicative-hash expression. The
        |corpus never shuffles and no text moves — at 100 TB this is a
        |metadata-only pass over doc ids.""".stripMargin,
    "q140_bm25_topk" ->
      """Lexical retrieval, index-free form: the query-term isin filter
        |sits UNDER the tf aggregation, so the only shuffle carries
        |query-term rows (not the vocabulary) with doc length riding
        |them — no corpus-sized join anywhere. df/N/avgdl re-enter as
        |literals; scoring is one codegen'd projection with the
        |per-term contributions summed in a fixed parenthesized order
        |(cross-engine bit-stable double); top-k is
        |TakeOrderedAndProject — per-partition heaps, never a global
        |window. This is the oracle anchor; q142 is the serving
        |path.""".stripMargin,
    "q142_posting_bm25" ->
      """Index-backed retrieval: the posting lake (built once per
        |corpus version, bucket-partitioned on the portable word hash)
        |turns a query into a partition-pruned scan of its terms'
        |buckets — the scan node lists ONLY `bkt IN (…)` directories of
        |manifest-named files, so serving cost follows query-term
        |posting rows at any corpus size. df is exact from the pruned
        |rows; the scoring tail is q140's shared fixed-order
        |projection, which is why the two share an oracle.""".stripMargin,
    "q141_bloom_lookup" ->
      """The needle-in-the-lake read: pruneFilesPoint intersects
        |range stats with per-file Bloom membership BEFORE any file
        |opens, so the plan's scan node names ~1 file out of the whole
        |lake even on a key whose value ranges interleave across every
        |file (the geometry that defeats min/max). The equality
        |predicate still pushes into the surviving scan for row-group
        |skipping — three skipping layers compose: manifest range,
        |manifest bloom, parquet footer.""".stripMargin,
    "q145_ivfpq_index" ->
      """The composed FAISS-IVFPQ build: one broadcast-argmax routing
        |pass (no join), residual subtraction in the same map, then
        |the PQ trainer's per-round single scan with map-side-combined
        |fixed-point sums — driver state is M·k·(d/M) doubles, and no
        |shuffle ever carries a vector. The final ledger aggregation
        |shuffles (bucket, subspace, codeword) triples only. The
        |serving shape this certifies: bucket-partitioned 2-byte
        |codes, ADC scoring of probed buckets, exact re-rank reading
        |full vectors for the shortlist alone — RAM-served at 100 TB
        |of embeddings.""".stripMargin,
    "q147_event_outliers" ->
      """One shuffle on event_type, then a narrow per-type sort
        |feeding two stacked windows (rank + per-type count) and a
        |final tiny aggregate — the §2.5 shape. Exact rank-based p99
        |is the oracle anchor; a 100 TB monitor runs
        |percentile_approx and validates against this, the same
        |exact-vs-approx pairing as q31/q97.""".stripMargin,
    "q150_ivfpq_lake" ->
      """The compressed index as an on-disk artifact: codes land
        |bucket-partitioned (static partition pruning at serve time),
        |and the census is re-derived from the READ-BACK codes — the
        |scan touches 2-byte-per-vector rows, never a float vector.
        |At 100 TB of embeddings the code lake is ~1/128 the bytes,
        |which is what moves ANN serving from disk-bound to
        |RAM-resident.""".stripMargin,
    "q151_hybrid_rrf" ->
      """Two top-k streams (BM25 heap + cosine heap, each
        |TakeOrderedAndProject) fused by a full-outer join of two
        |≤50-row frames and one fixed-order two-term sum — after the
        |legs, the fusion is driver-scale regardless of corpus size.
        |RRF's rank-only arithmetic is why the plan needs no score
        |normalization stage at all.""".stripMargin,
    "q157_sql_dml" ->
      """SQL DML through the path-addressed catalog. The read legs plan
        |as GraftScan with prunedFiles<total and the predicate pushed;
        |DELETE runs one predicate-pushed detection scan and rewrites
        |only stats-overlapping files. Catalog resolution is ONE
        |manifest read — no listing, no file opens — so the SQL route
        |costs exactly the Scala route at any lake size.""".stripMargin,
    "q158_lake_merge" ->
      """Keyed MERGE: detection is one lake scan semi-joined against
        |delta-sized keys (AQE broadcasts the key set), rewrites touch
        |only colliding files (concurrent per-file jobs), and all update
        |rows stage once. The 100 TB shape is the daily upsert batch:
        |with updates clustered on the layout key, affected files ≈
        |key-range/file-range — delta-proportional, never lake-
        |proportional.""".stripMargin,
    "q159_sql_update" ->
      """SQL UPDATE as copy-on-write ReplaceData: the operation's scan
        |IS the manifest-pruned scan, so the WHERE range selects files
        |through the same stats the reads use (strict-subset rewrite,
        |oracle-pinned); the write is the engine's distributed DSv2
        |BatchWrite (per-task dynamic-partition parquet writers), and
        |the swap is one CAS re-deriving stats+blooms.""".stripMargin,
    "q166_topk_skipping" ->
      """ORDER BY … LIMIT file skipping: the top-k pushdown keeps only
        |files whose [min, max, null count, row count] admit a top-k
        |row — accumulate by ascending max until non-null rows cover
        |k, bound the k-th value, drop files whose min exceeds it
        |(DESC mirrored). Soundness under NULLS FIRST/LAST comes from
        |the manifest's EXACT per-file null counts (col:nn:<n>
        |segments off footer numNulls) — min/max alone cannot place
        |nulls. Always PARTIAL pushdown: the engine's own sort+limit
        |runs above; the manifest only shrinks what gets planned. At
        |100 TB this is "latest k events" opening two files instead
        |of the lake. The bare-LIMIT leg is the same idea without an
        |order: a row-covering file prefix.""".stripMargin,
    "q165_manifest_agg" ->
      """Manifest-answered aggregates: global and GROUP-BY-partition
        |COUNT(*)/MIN/MAX fold out of the one already-parsed manifest
        |(rows: segments + min/max stats) and plan as a LOCAL
        |relation — zero file opens, zero tasks. The pushdown
        |declines wherever exactness can't be proven from metadata:
        |any WHERE (the manifest bounds rows, it can't filter them),
        |non-partition group-bys, untracked columns, non-integral
        |types (float NaN and string truncation make footer stats
        |writer-dependent). The dashboard's poll queries — the
        |reference hits PostgreSQL bookkeeping tables for exactly
        |these shapes — become metadata lookups at any corpus
        |size.""".stripMargin,
    "q164_create_table" ->
      """CREATE TABLE DDL: an empty v1 manifest carries the declared
        |schema AND layout (#prop: headers — partitionCol, statsCols,
        |bloomCols), and the commit loop carries the declaration
        |forward in ONE place so no later commit can drop it. INSERTs
        |and Scala appends that omit statsCols still track the
        |declared columns — a SQL-only user declares the skipping
        |index BEFORE any data exists, and the q164 range-read leg
        |proves it prunes. Mis-partitioned appends and duplicate
        |CREATEs refuse loudly; CTAS is createTable + the ordinary
        |insert path.""".stripMargin,
    "q163_restore" ->
      """RESTORE: roll back to a prior version's content as a NEW
        |commit — metadata-only (the target's file list, stats,
        |blooms and schema re-publish in one CAS; zero data files
        |read or written), history intact so the undone state stays
        |time-travelable, and the newest txn high-waters are KEPT so
        |a restore can never reset streaming exactly-once tracking
        |into double-appends. Refuses loudly, naming casualties, if
        |vacuum already reclaimed the target's files — a silently
        |partial restore would be worse than none.""".stripMargin,
    "q162_timestamp_travel" ->
      """TIMESTAMP AS OF: each commit's manifest carries a #ts wall
        |time; resolution picks the max VERSION among retained
        |commits with ts <= the queried instant (clock skew between
        |racing writers can therefore never order history differently
        |than the manifest log does) and serves that version through
        |the normal snapshot path — time is sugar over the version
        |log, never a second addressing scheme. Resolution is
        |O(retained versions) driver-side manifest parses,
        |independent of data size; a pre-history instant refuses
        |with a named error (not an empty table), and pre-ts
        |manifests stay version-addressable but never
        |time-addressable.""".stripMargin,
    "q161_metadata_tables" ->
      """SQL metadata tables: the commit log itself as relations —
        |graft.`/lake$history` (one row per retained manifest with
        |op and an added/removed diff against its predecessor) and
        |graft.`/lake$files` (the snapshot exploded per tracked
        |stats column, logical partition values, stringified bounds,
        |bloom presence), with VERSION AS OF on $files. Both are
        |driver-local scans ON PURPOSE: metadata is manifest-sized —
        |the $files row set is the exact object every ordinary read
        |already parses on the driver before planning, so no data
        |file opens and no distributed job runs for either. The
        |oracle replays the per-partition doc_id extrema from the
        |rows themselves, proving compaction re-derives (not
        |carries) skipping stats.""".stripMargin,
    "q160_sql_merge" ->
      """SQL MERGE INTO, group-filtered: Spark evaluates the matched
        |keys first (a narrow semi-join subquery) and pushes them back
        |as a single-attribute IN — the row-level scan advertises ONE
        |most-skippable filter column so the filter stays translatable
        |(a multi-attribute struct IN would silently not push) — and
        |the point-lookup rules (stats + bloom) collapse the rewrite
        |to the files holding matched keys. Oracle = q158's replay:
        |the SQL spelling and the Scala keyed upsert must land the
        |identical post state. The group filter's key scan is the one
        |corpus-proportional term; ManifestLake.merge's manifest-side
        |detection avoids even that, which is why it stays the
        |streaming spelling.""".stripMargin,
    "q173_cow_change_feed" ->
      """CDF over copy-on-write commits: with enableChangeDataFeed set,
        |every COW mutation writes its change record as _cdf/ sidecars
        |in the same CAS commit — the Scala DML records its matched
        |rows directly, the SQL ReplaceData paths reconstruct an exact
        |removed-vs-added multiset diff (ONE affected-proportional
        |group-by; carried rows cancel, duplicates count). The feed
        |then reads sidecar bytes only — change-proportional at any
        |lake size — and MoR vs COW mutations of the same logical
        |change are multiset-identical by pin. The plan shown is the
        |final aggregate; the interesting work is commit-time.""".stripMargin)

  def main(args: Array[String]): Unit = args match {
    case Array(outDir, tag, names, sf @ _*) =>
      withSession(sf.toArray)(dumpPlans(_, _, outDir, tag, names.split(",").toSeq))
    case _ => withSession(args)(writePlansMd)
  }

  private def withSession(args: Array[String])(body: (SparkSession, String) => Unit): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
    graft.core.Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    body(spark, dir)
    spark.stop()
  }

  // Same per-query hygiene as Verify/Bench: some plan CONSTRUCTIONS
  // persist frames and run eager jobs (q89's quantized cache, q90's
  // training rounds) — without a release a loop over queries
  // accumulates every query's blocks.
  private def formatted(spark: SparkSession, dir: String, name: String): String =
    try SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    finally graft.core.Resources.release()

  private def dumpPlans(spark: SparkSession, dir: String, outDir: String,
                        tag: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val out = Paths.get(outDir, s"${name}_$tag.txt")
      try {
        Files.writeString(out, formatted(spark, dir, name))
        println(s"[plans] wrote $out")
      } catch { case e: Throwable => println(s"[plans] $name FAILED: $e") }
    }
  }

  private def writePlansMd(spark: SparkSession, dir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries\n\n")
    sb.append("Generated by `graft.Plans` (`explain(\"formatted\")` at " + dir + ").\n")
    sb.append("Each plan carries the 100 TB commentary the code was designed against.\n")
    commentary.foreach { case (name, note) =>
      sb.append(s"\n## $name\n\n")
      sb.append(note).append("\n\n```\n")
      // keep the operator tree; drop the verbose per-node detail section
      sb.append(formatted(spark, dir, name).split("\n\n").head).append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${commentary.size} queries)")
  }
}
