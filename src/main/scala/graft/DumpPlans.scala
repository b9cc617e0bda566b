package graft

/** Dev tool: regenerate PLANS.md — formatted physical plans for the
  * headline queries with scale commentary. Run:
  * `sbt "runMain graft.DumpPlans"`. */
object DumpPlans {

  private val entries: Seq[(String, String)] = Seq(
    "agg_q1" ->
      """TPC-H Q1 shape. The shipdate predicate is in `PushedFilters`
        |(evaluated inside the parquet reader), ReadSchema carries only
        |the 7 referenced columns, and aggregation runs as
        |`partial_sum` before the single hash exchange on the group
        |keys — the map-side combine is what keeps the shuffle tiny at
        |any scale.""".stripMargin,
    "q6_forecast_revenue" ->
      """Pure scan + filter + global sum: every predicate pushed, no
        |shuffle except the final single-row reduce. The plan to beat
        |for "how cheap can a 100 TB scan-heavy query be".""".stripMargin,
    "join_multiway" ->
      """customer ⋈ orders shuffles on the key; nation (25 rows at ANY
        |scale factor) is a `BroadcastHashJoin` — no shuffle for the
        |dimension. AQE picks the orders/customer join side sizes at
        |runtime.""".stripMargin,
    "sort_limit_topk" ->
      """ORDER BY + LIMIT plans as `TakeOrderedAndProject`:
        |per-partition bounded heaps merged on the driver — no global
        |sort, memory O(k) per task regardless of input size.""".stripMargin,
    "asof_join" ->
      """The custom whole-operator extension. `AsOfJoinExec` declares
        |ClusteredDistribution + (key, ts) ordering, so
        |EnsureRequirements inserts the hash exchanges and sorts, then
        |the merge pass streams both sides with one candidate row of
        |state per key. Filter pushdown and column pruning through the
        |node come from the injected optimizer rules (see
        |GraftExtensions).""".stripMargin,
    "layout_bucketed_join" ->
      """Both sides written bucketed by the join key: the join and the
        |following same-key aggregation have NO shuffle exchange — the
        |bucketing was the exchange, paid once at write time. The only
        |exchange in the plan is the final presentation ORDER BY.""".stripMargin,
    "dedup_minhash_lsh" ->
      """Shingling + the whole 32-hash MinHash signature are single
        |custom expressions inside the scan stage (no explode, no
        |shuffle to build signatures); banding explodes 8 rows per doc;
        |ONE groupBy-per-bucket shuffle feeds the CappedPairs generator
        |(bucket cap fused in — no cap window, no self-join), and each
        |distinct candidate is verified with one BroadcastJaccard map
        |lookup when the shingle-set table fits the 256 MB guard
        |(shuffled joins proportional to candidates otherwise).""".stripMargin,
    "dedup_ngram_jaccard" ->
      """Exact-recall AllPairs/PPJoin: per-doc prefix grams selected in
        |the scan stage against a bounded sampled stop-gram model; one
        |groupBy-per-gram shuffle feeds BucketPairs, which fuses the
        |bucket cap and the size + positional prunes into the pair
        |loop; distinct candidates then verify via BroadcastJaccard
        |lookups (or size-guarded joins at corpus scale). Postings
        |cross the wire once; the ~2 KB gram arrays never enter a
        |row on the small-table path. Before any pair is generated, a
        |≤64-row exact posting-count histogram bounds the total
        |candidate mass (Σ min(m,cap)(min(m,cap)−1)/2): the bucket cap
        |halves, then a rarest-first df-ceiling drops hot gram bands,
        |until the bound fits the configured pair budget — bounded
        |within a small constant of the budget at any corpus
        |degeneracy (the partial band admits by expected mass; ≤4×
        |per-gram variance inside a log2 band), inert on healthy
        |corpora (estimate ≪ budget at every driver scale).""".stripMargin,
    "join_cosine_threshold" ->
      """The declarative similarity join: the user writes
        |`cosine_sim(a, b) >= t` — an O(n²) predicate Spark would plan
        |as a broadcast nested loop — and the opt-in
        |RewriteCosineThresholdJoin rule replans it as a hash equi-join
        |on 8×2-bit hyperplane band keys with the original predicate as
        |residual filter and canonical-band exactly-once emission. The
        |plan below shows the banded equi join; no nested loop
        |appears.""".stripMargin,
    "join_range_pred" ->
      """A pure interval predicate would plan as broadcast nested loop
        |(O(|L|·|R|), full broadcast). Ranges.bandJoin quantizes time
        |into band-width buckets, explodes each left row into its ≤2
        |touchable buckets, and the plan becomes a bucket-equi
        |hash/sort-merge join + residual filter — shuffle cost
        |proportional to rows per bucket, no broadcast.""".stripMargin,
    "q10_returned_items" ->
      """TPC-H Q10: lineitem⋈orders⋈customer shuffle on keys with
        |filters pushed to both scans, nation broadcast, exact-micros
        |revenue aggregated partial→final, deterministic
        |TakeOrderedAndProject top-20.""".stripMargin,
    "q8_market_share" ->
      """TPC-H Q8, the deepest join tree in the suite (8 relations).
        |The selective filters (p_type, region, the order-date range)
        |are pushed into their scans. At this SF every non-fact side
        |fits the broadcast threshold, so the whole tree plans as
        |seven BroadcastHashJoins over one lineitem scan — zero
        |shuffles before the final per-year aggregate. At 100 TB the
        |orders/customer sides outgrow the threshold and AQE flips
        |exactly those two joins to key shuffles while the true dims
        |(part/supplier/nation/region) stay broadcast — the join
        |ORDER already feeds lineitem through the selective dims
        |first, which is what survives a 1000-executor fact
        |table.""".stripMargin,
    "sim_topk_pq" ->
      """Product-quantization ANN: the corpus side carries only
        |(neighbor_id, codes, embedding-for-rerank); candidate scoring
        |is the PqAdc expression over the 8-code array against the
        |broadcast query set — at scale the rerank embeddings live in a
        |separate fetch, and the candidate scan reads a table ~64×
        |narrower than the vectors. Two windows: ADC prelim top-64,
        |then exact-cosine top-k on survivors only.""".stripMargin,
    "q2_min_cost_supplier" ->
      """TPC-H Q2's correlated scalar MIN-subquery. Catalyst
        |decorrelates it into an aggregate-then-join: the per-part
        |regional minimum computes ONCE as a grouped aggregate over
        |the (deterministically derived) partsupp pair relation, then
        |joins back on p_partkey — no per-outer-row re-execution
        |anywhere in the plan. The region/nation dimension chain
        |broadcasts on both the outer and the subquery side.""".stripMargin,
    "q9_product_profit" ->
      """TPC-H Q9, the deep multiway profit join (lineitem ⋈ part ⋈
        |supplier ⋈ orders ⋈ nation ⋈ derived partsupp). The p_name
        |LIKE filter is pushed into the part scan and — via the join
        |order — prunes the fact stream before the wide orders join;
        |dimensions broadcast, the pair relation shuffles once on its
        |(part, supp) grouping, and profit aggregates
        |partial→final in exact integer micros.""".stripMargin,
    "q20_promotion_suppliers" ->
      """TPC-H Q20's nested semi-join chain: supplier IN (pairs whose
        |part IN (LIKE-filtered parts) AND a correlated per-pair
        |scalar sum). Both IN predicates plan as LeftSemi hash joins
        |(no duplication of the outer), and the correlated 1995-volume
        |sum decorrelates into one grouped aggregate joined back on
        |the pair key — three aggregates total, zero nested-loop
        |re-evaluation.""".stripMargin,
    "dedup_minhash_index_merge" ->
      """The persisted-index epoch merge (plan below is the
        |checkpointed pair result; the load-bearing shape is pinned by
        |the inline hasShuffle assert + DedupSpec). The index side —
        |`mhidx_postings` bucketed by the folded band key — feeds its
        |per-bucket bounded collect with NO exchange: the bucketed
        |scan's HashPartitioning satisfies the aggregation's
        |clustering outright, and the increment side alone shuffles
        |(or broadcasts) to meet it. Re-run cost per epoch is
        |proportional to the increment's touched buckets, not the
        |corpus.""".stripMargin,
    "profile_numeric" ->
      """All-column dataset profile in ONE scan: the multiple exact
        |COUNT(DISTINCT)s plan as a single Expand (each input row fans
        |out once per distinct-aggregate) feeding one two-phase
        |aggregate — not one scan per column. The explode to long
        |format touches a single 1-row driver-side array.""".stripMargin,
    "bloom_prefilter_join" ->
      """Runtime Bloom pre-filtering: the dim keys (one skinny
        |aggregate job, driver-bounded model like IVF centroids)
        |become a broadcast Bloom filter evaluated as a custom
        |codegen'd predicate INSIDE the lineitem scan stage — the
        |`bloommightcontain` filter sits directly on the scan, before
        |any exchange, so non-matching fact rows are dropped at the
        |source instead of being shuffled to a join. The exact join
        |then removes false positives; result ≡ plain join.""".stripMargin,
    "decontam_ngram" ->
      """Benchmark decontamination. The eval side aggregates to its
        |distinct gram set and BROADCASTS (a benchmark is small by
        |construction); the training corpus is scanned once, its grams
        |dying in the scan stage unless they hit the broadcast set —
        |the only shuffles carry matched grams (per-doc hit count) and
        |the per-doc report join. No full-corpus gram shuffle
        |anywhere.""".stripMargin,
    "cluster_kmeans" ->
      """Distributed k-means assignment: the model is a driver-bounded
        |sample (ONE job, 1024 vectors), then assignment is a pure
        |projection over the broadcast centroid array — the plan has
        |NO join and NO exchange except the presentation sort. This is
        |the shape that lets a billion-vector corpus label itself in
        |one scan.""".stripMargin,
    "dedup_semantic" ->
      """SemDeDup: within-cluster near-dup pairs. Cluster assignment
        |is scan-stage (see cluster_kmeans); members shuffle ONCE on
        |cluster_id, the per-cluster affinity-rank cap bounds any hot
        |cluster, and the pairwise cosine runs only inside a cluster —
        |candidate volume is Σ min(|c|, cap)², controlled by k, never
        |n².""".stripMargin,
    "sim_topk_ivf_indexed" ->
      """The PERSISTED inverted-file index: the corpus is written once
        |directory-partitioned by cluster (each inverted list its own
        |partition), and the probe join carries a
        |`dynamicpruningexpression` on the partition column — the scan
        |lists and reads ONLY the probed inverted lists. Semantics and
        |oracle identical to sim_topk_ivf; the difference is that at
        |10⁴ clusters / nProbe 32 a query batch reads ~0.3% of the
        |corpus bytes.""".stripMargin,
    "decontam_ngram_bc" ->
      """The zero-shuffle decontamination regime: the eval gram set is
        |collected once into an executor broadcast and every training
        |doc counts its own grams via the BroadcastMemberCount
        |expression INSIDE the scan — no join node, no exchange but
        |the output sort. Contrast with decontam_ngram's broadcast
        |JOIN (whose gram explode + per-doc aggregation shuffle grows
        |with the corpus while this plan's cost doesn't); BASELINE.md
        |documents the measured crossover.""".stripMargin,
    "events_interpolate_1h" ->
      """Linear gap interpolation on the resample grid: two
        |IGNORE-NULLS windows per series key (last observation behind,
        |first ahead — value and hour pairs), then the proportional
        |value in exact micros. Same scale shape as the resample: the
        |grid is post-aggregation small and every window partitions by
        |series key.""".stripMargin,
    "sample_weighted_mix" ->
      """Epoch composition: multiplicity = floor(weight) + a stable
        |fractional-hash extra copy, materialized by a scan-stage
        |explode — upsampling with REPETITION and numbered copies, no
        |shuffle, no RNG state, reproducible under any layout. The
        |only exchange is the presentation sort.""".stripMargin,
    "search_bm25" ->
      """Inverted-index BM25. Tokens are filtered to the query's terms
        |INSIDE the scan stage, so the only full-width shuffle is the
        |per-(doc, term) tf aggregate over matching tokens; corpus
        |stats (1 row) and df (≤ |terms| rows) broadcast; the final
        |top-k is TakeOrderedAndProject — per-partition heaps, no
        |global sort.""".stripMargin,
    "pack_sequences" ->
      """Sequence packing (concat-then-chunk): token counting is
        |codegen'd inside the scan, so only (doc_id, n_tokens, hash)
        |rows reach the ONE hash-partition exchange on the shard key;
        |each shard's running-offset window sorts locally and shards
        |pack independently — no global sort, no straggling reducer
        |chain, token mass never shuffles. The second exchange is the
        |presentation ORDER BY.""".stripMargin,
    "scd2_event_runs" ->
      """SCD2 history build via gaps-and-islands: both row_numbers,
        |the run groupBy AND the lead() interval chaining all declare
        |user_id-compatible partitioning, so Catalyst plans ONE
        |user-partitioned exchange and reuses it across all four
        |operators — the whole dimension build is one shuffle of the
        |event stream plus the presentation sort.""".stripMargin,
    "curation_domain_cap" ->
      """Per-domain diversity cap: URL synthesis, parse_url host
        |extraction and the micro-rounded quality score are all
        |scan-stage projections; the only data exchange is the
        |host-partitioned window for row_number, whose state is one
        |counter per host — no per-host buffering, no skew hazard
        |beyond the windowed partition itself.""".stripMargin,
    "quality_model_lr" ->
      """Model-based quality filtering: the corpus is touched by ONE
        |bounded job (a TakeOrdered hash-sample of 4096 feature rows);
        |LBFGS then iterates on a one-partition driver-local frame, so
        |training cost is independent of corpus size. Corpus scoring is
        |the plan below — a pure scan-stage projection (score,
        |micro-rounded rank key, keep decision) whose only exchange is
        |the presentation sort (QualityModelSpec pins the scoring
        |projection itself exchange-free). At 100 TB the classifier
        |costs exactly one pass over the text column.""".stripMargin,
    "agg_incremental" ->
      """Incremental aggregate maintenance: the historical corpus
        |enters as its persisted |sources|-row partial state (the tiny
        |parquet scan), only the increment's documents are read and
        |partially aggregated, and the merge re-groups state ∪
        |partials. Epoch cost ∝ increment, never corpus — the
        |rescan-free report loop.""".stripMargin,
    "events_anomaly" ->
      """3-sigma anomaly flags with the z-test cross-multiplied into
        |exact DECIMAL(38) integers (float variance is accumulation-
        |order-dependent; this flag is engine-reproducible). Two
        |key-partitioned aggregations; per-type stats (|event types|
        |rows) broadcast back onto the hourly grid; no window, no
        |collect.""".stripMargin,
    "curation_url_dedup" ->
      """URL canonicalization dedup: synthesis and the whole regexp
        |canonicalization pipeline are scan-stage codegen projections;
        |the only data exchange is the canonical-key window (one
        |min(doc_id) per group). The wide text column is never read —
        |ReadSchema carries doc_id alone, so at crawl scale the dedup
        |key pass touches URL metadata, not payloads.""".stripMargin,
    "graph_pagerank" ->
      """Exact-integer PageRank, 5 fixed rounds, two MEASURED regimes
        |chosen from N (known on the driver). Broadcast regime (N·24 B
        |under the broadcast threshold): the raw edge frame checkpoints
        |once with NO shuffle and NO sort, out-degree rides on the
        |N-row broadcast (id, outdeg, rank) frame, and each round is
        |one map-side probe of the cached edges plus a skinny inflow
        |aggregate that folds the N-row node skeleton in the SAME
        |union+groupBy (r15 — one exchange and one broadcast build per
        |round; the former shape paid a second N-row fold-back join
        |and its broadcast build every round). Pinned regime
        |(billion-node graphs): the edge⋈degree frame pre-buckets by
        |src (repartition + sort, AQE scoped off so the capture holds)
        |and each round's rank join is co-partitioned with zero
        |exchange on either side — PlanQualitySpec pins exactly one
        |exchange (the inflow aggregate) in the loop body. Ranks are
        |scaled longs with floor division — reproducible at any
        |parallelism, which float PageRank can never be; the plan
        |below is the final checkpoint scan + presentation
        |projection.""".stripMargin,
    "multimodal_audio" ->
      """Exact-integer audio features: WAV encode + full RIFF decode +
        |energy/magnitude/crossing accumulation all fuse into one
        |partition-mapped pass — the plan's only exchange is the
        |presentation sort's range partition. Constant memory per row,
        |no shuffle of payload bytes, the shape a 100 TB media scan
        |needs.""".stripMargin,
    "graph_triangles" ->
      """Degree-ordered triangle counting: orientation bounds every
        |node's wedge fan-out by the oriented out-degree (O(√m) on ANY
        |graph — a web-scale star produces zero wedges), so the wedge
        |self-join below cannot blow up on skewed degree
        |distributions. Three key-partitioned shuffles: wedge join on
        |src, closing join on the id-normalized (v, w) pair (ONE
        ||E|-row least/greatest frame, not a two-orientation union),
        |per-node corner count fed by ONE explode over the confirmed
        |triangles (r15 — the former 3-branch corner union re-ran the
        |wedge+closing joins per corner). Edge set, degrees and the
        |oriented frame materialize once each, so the plan below reads
        |three checkpointed frames instead of re-inlining the caller's
        |edge construction ~74×. No driver state.""".stripMargin,
    "dedup_phash" ->
      """Perceptual image dedup — the multimodal/dedup crossover. PNG
        |encode, full decode (CRC walk + inflate + de-filter) and the
        |9×8 dHash all fuse into the scan stage (one partition-mapped
        |pass, payload bytes never shuffle); the 8-byte signatures then
        |run the signature-generic banded-Hamming join: ONE groupBy
        |shuffle with O(cap) bucket buffers and the fused
        |generate-and-verify pair loop. The whole image-dedup pipeline
        |moves 8 bytes per image across the wire.""".stripMargin,
    "graph_label_prop" ->
      """Synchronous label propagation, 4 fixed rounds over a
        |localCheckpointed frame (constant lineage, like pageRank).
        |Per round: one label join + one (node, label) count + one
        |struct-min argmax whose keep-own-label fallback rides the
        |same aggregate as zero-count skeleton rows (r15 — the former
        |per-round N-row fold-back join is gone) — all hash-partitioned
        |on the node id, so a cluster run reuses one partitioning
        |round over round. The
        |deterministic tie-break is what makes the result replayable;
        |the plan below is the final checkpoint scan + presentation
        |sort.""".stripMargin,
    "agg_incremental_quantile" ->
      """Quantile maintenance from mergeable histogram state: the
        |per-(source, bin) state is tiny by construction, so the
        |windows and joins below run over |sources|·nBins rows — the
        |corpus is touched once to bin the increment, never to answer
        |a quantile. The estimate arithmetic is all integer floor
        |division; the exact-quantile companion columns are the only
        |part that scans the full corpus (they exist for the error
        |envelope the oracle re-checks).""".stripMargin,
    "checks_constraints" ->
      """Declarative data-quality gate. Every row-level check folds
        |into ONE shared aggregate over one scan (conditional sums,
        |partial_sum before a single-row exchange — |checks|+1 longs of
        |shuffle traffic at any corpus size); uniqueness adds one
        |distinct-count aggregate and each foreign key one left-anti
        |join against the distinct reference keys. The report is
        |constant-size: checks × 4 columns.""".stripMargin,
    "feat_hashing" ->
      """Hashing-trick features: FNV-1a over token UTF-8 bytes is a
        |codegen'd expression in the scan stage (no vocabulary build,
        |no broadcast, no driver state — THE point of the hashing
        |trick at 100 TB). The one exchange is the (doc_id, feat_idx)
        |aggregate, map-side combined so at most `dim` rows per
        |document cross the wire.""".stripMargin,
    "feat_binning" ->
      """Equal-frequency binning WITHOUT a global sort: the exact
        |percentile cutpoints are one bounded aggregate (11 doubles)
        |broadcast back as a 1-row side; bucket assignment is pure
        |scan-stage arithmetic and the final aggregate groups on ≤10
        |bucket ids. Compare ntile(): a single-partition window that
        |serializes the corpus through one task.""".stripMargin,
    "cdc_apply" ->
      """Batch CDC fold: the changelog (the SMALL side — a day's
        |delta) takes one key-partitioned window for last-writer-wins,
        |then one full-outer join against the snapshot; the snapshot
        |is scanned exactly once and nothing reaches the driver. With
        |the snapshot stored bucketed by key (sources/Layout) its
        |exchange disappears and only the delta shuffles.""".stripMargin,
    "table_diff" ->
      """Keyed snapshot diff: ONE full-outer join; the null-safe
        |payload comparison runs in the join's output projection
        |(codegen), and unchanged keys are filtered before anything
        |else happens — the output is the delta, never a copy of the
        |corpus. Bucketed storage makes it exchange-free.""".stripMargin,
    "record_linkage" ->
      """Blocked record linkage: candidates are an equi-join on the
        |block key — the plan has NO cartesian product anywhere; the
        |pair budget drops degenerate blocks whole before the join
        |(two count aggregates + left-semi prunes). Scoring is
        |scan-stage arithmetic over the joined pairs.""".stripMargin,
    "search_phrase" ->
      """Phrase search WITHOUT the n-way positional self-join: the
        |(word → slot) table is |phrase| rows broadcast into the scan
        |stage, so non-phrase tokens die before anything shuffles; the
        |one exchange is the map-side-combined (doc, start) vote
        |count. The naive plan shuffles the full positional index
        ||words|−1 times.""".stripMargin,
    "text_tfidf" ->
      """tf is the one corpus-touching aggregate; df aggregates tf's
        |OUTPUT (no second scan), the tf⋈df join is term-keyed and
        |AQE-sized, and the top-k window partitions by doc_id — per-doc
        |heap, not a global sort. Weights are integer DIV micros:
        |reproducible at any parallelism.""".stripMargin,
    "join_interval_overlap" ->
      """Interval×interval overlap as a HASH join: both sides explode
        |into ≤2 quantized buckets, pair emitted once in the
        |overlap-left-edge bucket; the raw predicate would plan as a
        |broadcast nested loop. Keys scope the join — without them no
        |algorithm beats the output size itself.""".stripMargin,
    "join_edit_distance" ->
      """Levenshtein-threshold join: the same blocked candidate
        |generator as record_linkage bounds the quadratic verify;
        |the codegen'd levenshtein builtin runs in the join's output
        |projection. The fourth similarity-join family (after
        |jaccard / cosine / hamming) on one shared blocking
        |skeleton.""".stripMargin,
    "agg_contingency" ->
      """Independence audit with NO division and NO sqrt: the
        |2σ-residual flag is a DECIMAL(38) cross-multiplied
        |inequality evaluated in the output projection. One cell
        |aggregate touches the corpus; marginals aggregate the CELL
        |frame (|nations|×|segments| rows) and broadcast back — the
        |1-row grand total is the only cross join.""".stripMargin,
    "bpe_train" ->
      """BPE training: the corpus is scanned once to build the word
        |vocab; all three rounds run over the vocab frame (orders of
        |magnitude smaller), each round = one pair-count aggregate +
        |one struct-max argmax, with ONE driver row collected per
        |round (the winning pair, needed as a literal in the next
        |fold). The fold itself is a codegen'd scan-stage
        |expression.""".stripMargin,
    "embed_quantize" ->
      """Int8 scalar quantization is a pure scan-stage transform:
        |scale, quantize, and both audit sums (|q| and pico-scaled
        |squared error) are higher-order array expressions evaluated
        |per row inside the one WholeStageCodegen span — the only
        |exchange in the plan is the presentation sort. At 100 TB the
        |quantizer cost is the scan itself; nothing accumulates
        |driver-side.""".stripMargin,
    "pareto_skyline" ->
      """Dominance with no pairwise comparison: the 1-row bounds
        |collect makes quantization a literal scan-stage expression,
        |and the ≤1024-row bucket stats (collected with counts) both
        |compute the cross-bucket prefix driver-side AND bound the
        |surviving candidate set — the exact sweep's SHAPE follows
        |that measured bound (the skyline-gate discipline): a provably
        |tiny candidate set takes the classic single-order sweep; an
        |adversarial all-frontier corpus takes the decomposed
        |per-(bucket, value) aggregate + bucket-PARTITIONED windows,
        |so no unbounded set ever funnels into one partition
        |(plan-pinned in PlanQualitySpec, both paths cross-checked
        |against brute force in SkylineSpec).""".stripMargin,
    "geo_radius_join" ->
      """The spatial join is a BroadcastHashJoin on (cellx, celly) —
        |no nested loop anywhere (PlanQualitySpec pins this). The ×9
        |neighborhood duplication is a narrow Generate (literal-array
        |explode) inside the probe-side codegen span; the exact dist²
        |predicate rides the join's output projection.""".stripMargin,
    "agg_bitmap_distinct" ->
      """Exact distinct as mergeable state: partial
        |bitmap_construct_agg runs map-side per (group, bucket), the
        |exchange carries 4 KB bitmaps instead of raw id values, and
        |the final popcount-sum is a second tiny combined aggregate —
        |the plan a 100 TB COUNT(DISTINCT) wants.""".stripMargin,
    "search_bm25_indexed" ->
      """The persisted-index regime: the postings scan shows
        |SelectedBucketsCount strictly below the bucket total — the
        |term filter pruned the read to the query terms' buckets at
        |planning time, so query cost tracks matching postings, not
        |corpus size. Scoring is join-free off the denormalized
        |posting rows; df and the 1-row stats broadcast.""".stripMargin,
    "layout_partitioned" ->
      """Directory partitioning: the year predicate appears under
        |PartitionFilters, not as a data filter — non-matching year
        |directories are never listed. The aggregate above it is the
        |usual partial+final pair. Layout invisibility is the oracle's
        |job; the plan's job is proving the prune happened before any
        |IO.""".stripMargin,
    "agg_sample_estimate" ->
      """Estimate and exact in ONE conditional-aggregate scan:
        |membership is a scan-stage hash expression, both sums run as
        |map-side partials, and nothing is scanned twice. The
        |production shape reads only the sample partition; this plan
        |exists to price the full-accounting variant.""".stripMargin,
    "events_ewma" ->
      """Two map-side-combined aggregates (hourly totals, then the
        |per-type array fold); the only exchanges are the two group
        |hashes and the presentation sort. The EWMA fold itself is a
        |scan-stage higher-order expression over an hours-long array —
        |no window, no per-row state.""".stripMargin,
    "multimodal_video" ->
      """Partition-mapped encode → decode → frame-sample: one
        |mapPartitions chain, no shuffle but the output sort. The
        |container walk is constant-memory per row; at 100 TB the
        |binary column streams through executors without ever pivoting
        |to the driver.""".stripMargin,
    "search_hybrid_rrf" ->
      """Hybrid retrieval: the two retriever subtrees (BM25's
        |scan-stage term filter + broadcast stats; the brute-force
        |cosine with its broadcast query side) each end in a bounded
        |top-k, so the fusion full-outer join and its one global
        |window run on ≤ 40 rows — every corpus-sized stage belongs to
        |a retriever, fusion is plan noise by construction.""".stripMargin,
    "text_lm_score" ->
      """Bigram-LM scoring: counts are two map-side-combined
        |aggregates off the one-pass WordBigrams expression (prefix
        |sums derive from the bigram counts — no corpus rescan); the
        |model join is bigram-keyed and hash-partitioned because a
        |web-scale LM table does not broadcast — that exchange IS the
        |honest bottleneck, carrying only (doc_id, bigram); the
        |vocabulary-sized prefix table broadcasts.""".stripMargin,
    "assoc_rules" ->
      """A-Priori, fused regime: ONE partial-aggregated collect_set
        |shuffle folds baskets (dedup inside the aggregation buffers —
        |no corpus-wide distinct pass), the frequent-item prune runs
        |INSIDE the scan as a broadcast long-set filter, and pair
        |generation is the codegen'd CappedPairs generator — three
        |key-partitioned shuffles, no self-join; the support attaches
        |are broadcast joins against the frequent-pair table, and both
        |rule orientations come off ONE explode per pair row (r15 —
        |half the reads of the materialized pair relation vs the
        |former two-projection self-union).""".stripMargin,
    "dedup_quality_rep" ->
      """Quality-weighted representative election: fingerprint, score
        |and the max-struct argmax all ride the scan stage; the only
        |exchange before the presentation sort is ONE hash partition
        |by fingerprint for the class window — dedup_exact's shape
        |with the min swapped for an argmax, no extra cost.""".stripMargin,
    "sample_topk_stratum" ->
      """Exact k-per-stratum sampling: the rank<=k filter plans as
        |WindowGroupLimit — per-partition k-row heaps run BEFORE the
        |single stratum exchange, so no stratum is ever fully sorted
        |and the shuffle carries at most k rows per stratum per input
        |partition (plan-pinned in SamplingSpec).""".stripMargin,
    "curation_quality_rebalance" ->
      """Quality-band rebalance: band (score cutoffs) and verdict
        |(XXH64 bucket threshold per band) are pure scan-stage
        |expressions — zero exchanges except the presentation sort; a
        |100 TB corpus pays one projection, and any shard of the input
        |admits exactly the same rows (no RNG, no global state).""".stripMargin,
    "source_jdbc" ->
      """The reference's per-site relational source, end to end: four
        |JDBCRelation scans each range-partitioned 4 ways on the
        |primary key (numPartitions=4 visible in the scan), reassembled
        |by UNION ALL + key join, then the same broadcast-dimension
        |aggregate shape as the parquet path — the source swaps, the
        |plan above it does not.""".stripMargin)

  /** Ids that a run numbers from JVM-wide counters. Each group is the
    * number, renumbered from 0 by first appearance in the plan, so two
    * attributes of one name stay apart. */
  private val numbered = Seq(
    """#(\d+)""".r, // expression ids
    """plan_id=(\d+)""".r,
    """RDD\[(\d+)\]""".r,
    """Broadcast\((\d+)\)""".r)
  private val uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  // a lambda's JVM-generated class suffix and identity hash
  private val lambda = """\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+""".r

  /** `plan` with its run-specific text made reproducible: expression,
    * plan, RDD and broadcast ids renumbered, temp-path UUIDs written
    * `<uuid>` and lambda names cut to `$Lambda`. A regeneration with no
    * plan change then rewrites no line of PLANS.md. */
  private[graft] def mask(plan: String): String = {
    import scala.util.matching.Regex.quoteReplacement
    val renumbered = numbered.foldLeft(plan) { (text, id) =>
      val seen = scala.collection.mutable.Map.empty[String, Int]
      id.replaceAllIn(text, m => quoteReplacement(
        m.matched.patch(m.start(1) - m.start,
          seen.getOrElseUpdate(m.group(1), seen.size).toString,
          m.group(1).length)))
    }
    lambda.replaceAllIn(uuid.replaceAllIn(renumbered, "<uuid>"),
      quoteReplacement("$Lambda"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = Engine.session()
    val sb = new StringBuilder
    sb.append(
      """# PLANS — physical plans of headline queries (sf0.001)
        |
        |Regenerate with `sbt "runMain graft.DumpPlans"`. Each section:
        |why this is the plan we want at 100 TB, then the actual
        |`explain("formatted")` output (plans are data-size-independent
        |in shape; AQE refines exchanges at runtime). Expression, plan,
        |RDD and broadcast ids are renumbered from 0 in each plan, so
        |a regeneration changes only the lines whose plan changed.
        |""".stripMargin)
    entries.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = mask(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append(s"\n## $name\n\n$why\n\n```\n$plan```\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${entries.size} plans)")
    spark.stop()
  }
}
