"""Benchmark harness — prints ONE JSON line per the driver contract.

Headline: the full multi-round crawl (frontier throughput = URLs
completing canonicalize → dedup → schedule per second of loop time),
plus the heavy driver-table queries. Input scale follows
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1); parallelism
follows $SPARK_GRAFT_CPUS (default: the machine's core count).

Scaling evidence (north rule: N vs 4N executors): run this twice,
  SPARK_GRAFT_CPUS=8 python bench.py
  SPARK_GRAFT_CPUS=32 python bench.py
on the same input — scripts/scaling_bench.py automates it and writes
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
ONLY = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")  # "pipeline" → scaling job only
PARTITIONS = 64  # shuffle partitions, fixed across cluster sizes: identical plans
SF = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)

BENCH_QUERIES = [
    "dedup_anti_join", "priority_fifo_order", "counter_rollup", "rate_window",
    "robots_gate", "running_budget_total", "ngram_jaccard_pairs",
    "minhash_lsh_pairs",  # NOTE: the md5/raw-band-key ORACLE form (DuckDB-
    # reproducible); the xxhash64/compressed production default is benched
    # separately below as minhash_production
    "jaccard_prefix_pairs",  # the SCALE exact-dedup path: prefix-filtered
    # join — keys exclude the high-frequency shingles where corpus² lives
    "dedup_clusters",  # pairs → connected components → keep-set
    "span_dedup",  # exact substring dedup: linear window-hash + keep-first
    "line_boilerplate_dedup",  # CCNet line-level boilerplate removal:
    # segment census + anti-join, removes hot lines from ALL carriers
    "decontam_overlap",  # broadcast benchmark n-gram probe
    "docs_unigram_quality",  # two-pass corpus stats, Zipf-split join
    "corpus_mix_clean",  # the COMPLETE composed flagship (dedup+quality+
    # repetition+decontam+mix-sample)
    "corpus_mix_clean_lr",  # same composition gated by the TRAINED
    # logistic-regression quality scorer (8 GD epochs in-query)
    "ann_cosine_topk",
    "ann_pq_topk",  # compressed-scan ADC ANN (16 codes/vector)
    "ann_ivfpq_topk",  # + IVF cell pruning: the web-scale index shape
    "ann_pq_trained_topk",  # Lloyd-trained codebook (3 iters), recall 0.8
    "ann_pq_refine_topk",  # + exact re-rank of the 30-deep shortlist: 1.0
    "ann_ivfpq_sampled_topk",
    "embedding_pca1",  # PCA by integer power iteration: one Gram pass
    # at corpus scale, dim-scale iterations, exact projections
    "ann_pca_bucket_topk",  # projection-pruned ANN: pc1 buckets +/-1
    # probed, exact cosine rank on the shortlist
    "semdedup_prune",  # SemDeDup semantic dedup: trained k-means cells
    # + within-cell cosine prune, keep-first (the DataComp step)  # BOTH quantizers trained on the 25%
    # bounded sample — the 100 TB training shape; Lloyd cost drops with
    # the sample while serve-path cost is unchanged
    "docs_exact_dedup", "multimodal_meta",
    "bloom_gate",  # relational bloom seen-set: k-position bit probe as
    # a co-partitioned equi-join (the blob fast path's oracle twin)
    "phash_band_pairs",  # image near-dup core on a planted pHash column:
    # 4-band bucketing + bit_count(xor) verify, fully SQL-oracled
    "phash_caption_consolidate",  # image clusters -> one canonical
    # caption per cluster (pairs + CC + two joins), fully SQL-oracled
    "phash_caption_best",  # same clusters, longest-caption strategy
    # (map-side max_by canonical selection), fully SQL-oracled
    "host_pagerank",  # integer-grid link authority, one shuffle/iter,
    # all 3 iterations unrolled in the oracle
    "authority_schedule",  # the authority signal composed into the
    # per-host budget cut (broadcast side-table join)
    "anchor_text_rollup",  # per-target anchor-text argmax with NO
    # window: groupBys + shuffle_hash joins (Zipf fan-in safe)
    "mirror_host_pairs",  # host-granularity mirror detection: exact
    # integer Jaccard over fingerprint sets, join keyed on fingerprint
    "cdc_chunk_dedup",  # content-defined chunking: rolling-hash
    # boundaries + chunk-hash dedup index (the crawl-archive modality)
    "clip_align_filter",  # LAION CLIP-score image<->caption gate in
    # exact int64 (grid-snap + hashed-BoW + cross-multiplied threshold)
    "clip_mix_filter",  # the COMPLETE LAION curation: metadata gates +
    # pHash dedup + CLIP alignment, composed from the member queries
    "caption_image_retrieval",  # cross-modal text->image top-5: the
    # retrieval twin of the alignment gate (broadcast query batch)
    "caption_image_retrieval_ivf",  # the serving path: trained-IVF
    # cell pruning (nprobe=2/8) before the same exact ranker
    "safety_gate",  # broadcast host-blocklist + unsafe-lexicon permille
    "aspect_bucket_pack",  # SDXL aspect-ladder batching, (bucket,shard)
    # writer-shaped windows, integer-exact nearest-ratio argmin
    "bpe_train_merges",  # tokenizer induction: 4 BPE merge rounds on
    # the word-type vocabulary (corpus work = one map-side word count)
    "bpe_encode_counts",  # the apply half: trained rules tokenize the
    # corpus (vocab-scale apply + one word-keyed join back)
    "politeness_schedule",  # per-host delay calendar, host-window only
    "sitemap_seed_expand",  # sitemap XML -> canonicalized, seen-
    # deduped frontier seeds (makes the canonicalizer driver-oracled)
    "adaptive_recrawl",  # change-rate revisit intervals, one page window
    "trap_detect",  # crawler-trap signals: per-URL-local explode+agg
    "pack_sequences",  # trainer-sequence packing: per-shard token layout
    "trainer_batch_plan",  # CAPSTONE: mix survivors -> token-budget
    # cut -> packed layout, all three stages nested in both engines
    "lm_coverage_score",  # CCNet-shaped curated-bigram coverage filter
    "token_budget_mix",  # per-source token-budget fill, two-phase
    # segmented running sum (no per-source global window)
    "epoch_repeat_mix",  # upsampling: budget div mass full epochs +
    # greedy partial pass; one row per doc, repeat count = decision
    "tfidf_topk",  # integer-exact tf-idf keyword extraction, top-3/doc
    "image_mix_filter",  # LAION-shaped image-caption curation: metadata
    # gates + pHash near-dup CC dedup among survivors, fully SQL-oracled
    "rendezvous_route",  # HRW consistent routing: pure map-side argmax,
    # minimal frontier movement on worker-pool change (1/(W+1) vs 8/9)
    "hll_seen_estimate",  # HyperLogLog seen-cardinality: 256-register
    # integer sketch, one map-side pass + a 256-key groupBy, mergeable
    "registrable_domain",  # eTLD+1 politeness grouping: longest-suffix
    # match vs a broadcast PSL dim, host-scale work only
    "robots_parse_gate",  # raw robots.txt parsed relationally (UA block
    # windows + most-specific group) + longest-prefix/allow-wins gate
    "fetch_latency_quantiles",  # mergeable log2-histogram tail-latency
    # sketch: one map-side pass into a <=13-key groupBy, p50/p95/p99
    "clip_percentile_filter",  # DataComp top-p CLIP cut: float cosine
    # as ordering key only, two-phase global rank (no global window)
    "crawl_policy_plan",  # CRAWL capstone: canonicalize -> trap filter
    # -> parsed-robots gate -> politeness calendar, nested end-to-end
    "aimd_rate_control",  # TCP-style adaptive per-host budgets: 8
    # unrolled host-scale join+CASE rounds, oracle replays each
    "link_reciprocity",  # link-farm permille: one edge-keyed
    # self-semi-join, flags mutual cliques before PageRank launders them
    "crawl_snapshot_diff",  # incremental re-crawl change table: one
    # doc-keyed full-outer fingerprint join, added/removed/changed/same
    "redirect_resolve",  # 301-chain resolution: max_hops unrolled
    # url-keyed joins, over-budget chains and cycles flagged
    "url_template_census",  # path-template mining: numeric segments ->
    # {n} map-side, (template) census for page-family budgeting
    "magic_sniff_gate",  # content-type-lie gate: magic-byte container
    # sniff on raw binary (hex-slice scalars), pre-decode dispatch
    "quality_lr_confusion",  # model-eval table: trained classifier's
    # confusion + integer PR vs planted truth (nests all 8 GD epochs)
    "ann_recall_report",  # driver-verified recall@5: IVF+PQ serving
    # path vs exact brute ranking, both CTE chains nested in the oracle
    "merkle_snapshot_tree",  # archive integrity: one corpus-scale leaf
    # pass + log n shrinking pair-hash groupBys, O(log n) divergence audit
    "sitemap_lastmod_refetch",  # freshness re-crawl: (loc, lastmod)
    # zip-parse + page-keyed join against the seen store's fetch day
    "registrable_budget_cut",  # budget re-keyed on eTLD+1: subdomain
    # families share ONE politeness allocation (the PSL payoff)
    "dedup_rate_report",  # dedup telemetry per stratum: docs vs
    # distinct fingerprints, integer dup permille
    "vocab_drift_report",  # corpus-drift monitor: cross-multiplied
    # integer unigram rate deltas between snapshots, zero floats
    "robots_sitemap_discovery",  # Sitemap: directives (GLOBAL per RFC
    # 9309, no group selection) -> the sitemap-expansion entry point
    "waterfill_budget",  # max-min fair capacity division: monotone
    # grant predicate + integer water level + host-order remainder
    "phrase_search_positions",  # positional phrase retrieval: doc-keyed
    # adjacency windows + a vocab-scale argmax phrase pick
    "crawl_rounds_oracled",  # THE loop, multi-round cross-engine:
    # 3 unrolled rounds of dedup/robots/cut + discovery + pending
    "phash_keep_best_resolution",  # LAION keep rule: max-pixel member
    # per near-dup cluster via one combinable max(struct), no window
    "lsh_recall_report",  # driver-verified dedup quality: LSH verified
    # pairs vs exact prefix-join truth, precision/recall permille
    "dsir_importance_mix",  # DSIR selection: one bigram fan-out ->
    # 64-bucket histogram -> broadcast re-score -> two-phase rank cut
    "ccnet_quality_tiers",  # head/middle/tail trichotomy over the
    # corpus-stats score, closed-form even-division tiers
    "docs_simpson_concentration",  # Gini-Simpson unigram concentration
    # ppm: two key-local aggs over one explode
    "url_blocklist_score",  # soft URL blocklist: terms compiled to
    # length/replace projections, scan+project-only plan
    "yield_budget_realloc",  # crawl economics: largest-remainder
    # yield-proportional budget division, SUM(granted)==capacity exact
    "route_skew_report",  # salted-vs-naive partition skew audit:
    # quantifies ON the data what the salt removes
    "priority_aging",  # starvation-avoidance aging composed into the
    # salted two-phase cut (pure projection, zero extra exchanges)
    "politeness_effective_delay",  # max(robots Crawl-Delay, 2x p95
    # latency bound) from the keyed log2-histogram sketch
    "zipf_fit_report",  # rank-octave Zipf-law corpus-health table
    "dns_batch_resolve",  # host-keyed TTL DNS cache + balanced
    # resolver sharding with bounded batches (host-scale state)
    "revalidate_plan",  # conditional-GET ETag/304 planning over the
    # re-crawl pass; bytes_saved egress telemetry
    "ip_politeness_cut",  # per-host cap then per-IP cap (CDN
    # colocation) — second window bounded by hosts_per_ip * host_cap
    "bytes_budget_cut",  # per-host egress-bytes FIFO-prefix rationing
    "warc_segment_plan",  # archive-segment export layout: per-writer
    # rotate-after-exceed packing as pure plan arithmetic
    "image_shard_export",  # webdataset tar-shard manifest over planted
    # image sizes — same segment_pack operator, payload-agnostic
    "host_health_score",  # integer EWMA error-rate + quarantine flag,
    # one host-keyed aggregate over bounded round history
    "retry_backoff_plan",  # truncated-exponential backoff + md5 jitter,
    # pure projection over the retry split
    "robots_refetch_plan",  # robots.txt TTL cache planning: serve /
    # serve-stale / HOLD semantics + balanced fetcher sharding
    "audit_sample",  # fixed-k-per-stratum QA sample; WindowGroupLimit
    # pushes the k-cut map-side before the stratum exchange
    "curriculum_phase_plan",  # quality-curriculum step table: tier
    # phases sequential, md5-mixed inside (two-phase global ranks)
    "multimodal_consensus_dedup",  # pHash pairs + caption-fingerprint
    # agreement: two-signal auto-drop vs keep-best routing
    "content_length_audit",  # fetch integrity: truncated/overrun
    # rollup + wasted egress bytes per host
    "fetch_dispatch_plan",  # CAPSTONE: robots TTL hold/serve-stale ->
    # host+IP politeness -> bytes rationing -> keep-alive waves
    "cms_heavy_hitters",  # Count-Min frequency sketch: 192-cell map-side
    # pass + broadcast point queries (the per-host load telemetry)
    "lm_perplexity_gate",  # CCNet bigram-LM perplexity percentile cut
    # (LM trained in-query on the curated md5 slice)
    "bm25_search_topk",  # integer BM25 top-20 over the mid-df query band
    "gopher_rules_gate",  # the named Gopher rule set: 7 cross-multiplied
    # integer rules over two relational fan-outs, full decision table
    "priority_sample",  # weighted k-sample w/o replacement (priority
    # sampling): TakeOrdered k+1 cut + config-scale tau/estimator tail
    "temperature_mix",  # alpha=1/2 mixture rebalancing: one corpus
    # groupBy, then stratum-scale exact-isqrt largest-remainder grants
    "hits_hub_authority",  # integer-grid HITS: 2 rounds x 2 edge-keyed
    # sums + broadcast sum-normalization, hub/authority split
]


def frontier_pipeline_once(spark, n_urls: int, n_hosts: int, n_images: int,
                           parts: int = 64, workdir: str | None = None) -> dict:
    """The canonical throughput job for the scaling metric, two actions:

      stage A (JVM): canonicalize → dedup admission → robots → salted
        priority/budget cut → materialize the scheduled set (parquet)
      stage B (Python): fused opener→decode→verify over the scheduled
        set (zero binary Arrow traffic; even seq repartition)

    The materialization barrier between A and B mirrors the production
    round loop (the log write) AND prevents local-mode oversubscription:
    without it, pipelined JVM shuffle tasks + Python workers co-run
    2×cores runnable threads and the measurement collapses. Partition
    counts are FIXED so both cluster sizes run identical plans.

    Returns {"jvm_secs", "py_secs", "scheduled", "jvm_gc_secs",
    "py_gc_secs"} — the gc fields are the delta in total JVM GC time
    (all collectors) across each stage, readable in local mode because
    driver and executor share one JVM; they decompose whether a scaling
    gap is compute or collector contention.
    """
    import shutil as _sh

    from cola_spark.operators.budget import budget_caps, init_budget_state
    from cola_spark.operators.dedup import admit, prepare_frontier
    from cola_spark.operators.fetch import fetch_decode_verify
    from cola_spark.operators.priority import schedule_cut
    from cola_spark.operators.robots import robots_gate
    from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_robots
    from pyspark.sql import functions as F

    workdir = workdir or tempfile.mkdtemp(prefix="cola_pipe_", dir="/dev/shm")
    # The committed job: shuffled (hinted) robots + caps joins — the
    # operators' broadcast=False behavior, replacing the serial
    # per-round broadcast builds the planner's Range-size estimates
    # silently picked — the cut windows REUSING the caps join's host
    # partitioning (schedule_cut spread=False), and the scheduled log
    # pruned to the fields stage B and the round loop consume (url,
    # url_canon, host, priority, seq, host_rank).
    #
    # Why spread=False is sound FOR THIS WORKLOAD and not in general:
    # the admission dedup upstream bounds per-host pending to the
    # host's distinct page universe (pages_per_host=50 in the
    # generator), so the phase-1 window's per-host groups are
    # politeness-scale even for the Zipf-hot head — the planted raw
    # skew is absorbed by the url_hash-keyed (skew-free) dedup stage
    # BEFORE any host-keyed stage. With UNBOUNDED per-host pending
    # (a mega-site backlog) spread=False co-locates that host's sort
    # in one task: use the operator default spread=True (the salted
    # repartition, entry()/run_crawl's shape). The shapes' 8/32-core
    # A/Bs: BENCH/BASELINE.md.
    seeds = gen_frontier_seeds(spark, n_urls, n_hosts=n_hosts, parts=parts)
    frontier = prepare_frontier(seeds.select("url", "priority", "seq", "force"))
    admitted, _ = admit(frontier, spark.createDataFrame([], "url_hash long"))
    budgets = gen_budgets(spark, n_hosts).withColumn("rate_per_round", F.lit(50))
    # web-scale host universe (400k at sf0.1, 10^7+ at the design
    # point): the caps + robots joins are parallel shuffled joins, not
    # serial per-round broadcast builds (operator-level shuffle_hash
    # hints; continuation-session A/B at both 8 and 32 cores)
    allowed = robots_gate(admitted, gen_robots(spark, n_hosts), broadcast=False)
    scheduled = schedule_cut(
        allowed, budget_caps(init_budget_state(budgets)),
        broadcast_caps=False, spread=False,
    ).select("url", "url_canon", "host", "priority", "seq", "host_rank")

    def gc_millis():
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        total, it = 0, beans.iterator()
        while it.hasNext():
            total += it.next().getCollectionTime()
        return total

    # settle before stage A as well: the warm run's shuffle/broadcast
    # heap debris otherwise bleeds GC pauses into the JVM-stage timing
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)
    gc0 = gc_millis()
    t0 = time.monotonic()
    scheduled.write.mode("overwrite").parquet(f"{workdir}/scheduled")
    jvm_secs = time.monotonic() - t0
    jvm_gc = (gc_millis() - gc0) / 1000.0
    # settle the JVM at the stage barrier: the preceding shuffle's heap
    # debris otherwise bleeds GC pauses into the Python-stage timing
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    sched = spark.read.parquet(f"{workdir}/scheduled")
    gc0 = gc_millis()
    t0 = time.monotonic()
    fetch_decode_verify(sched, n_images, dims=(48, 64), parts=parts * 2).write.format(
        "noop"
    ).mode("overwrite").save()
    py_secs = time.monotonic() - t0
    py_gc = (gc_millis() - gc0) / 1000.0
    n = spark.read.parquet(f"{workdir}/scheduled").count()
    _sh.rmtree(workdir, ignore_errors=True)
    return {"jvm_secs": jvm_secs, "py_secs": py_secs, "scheduled": n,
            "jvm_gc_secs": round(jvm_gc, 3), "py_gc_secs": round(py_gc, 3)}


def main() -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from cola_spark.plans.scheduler import CrawlConfig, run_crawl
    from cola_spark.queries import PAIRS
    from cola_spark.session import get_spark
    from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_images, gen_robots

    import os as _os

    _os.makedirs("/dev/shm/spark-local", exist_ok=True)
    spark = get_spark(
        "cola_spark_bench", master=f"local[{CPUS}]",
        shuffle_partitions=PARTITIONS,
        extra_conf={
            # measured tunings (see BENCH/BASELINE.md + memory notes):
            # AQE's sequential stage materialization adds ~1s/stage of
            # driver latency at these sizes; tmpfs shuffle dirs; 2000-row
            # Arrow batches bound Python-stage live memory at 32 threads
            "spark.sql.adaptive.enabled": "false",
            "spark.local.dir": "/dev/shm/spark-local",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    # --- scaling metric: one-round pipeline with a stage barrier ------------
    # steady-state protocol: one warm run (codegen JIT + python worker
    # spin-up), then min of 2 timed runs — the single-VM sandbox is noisy
    n_pipe = max(20_000, int(20_000_000 * SF))
    n_hosts_pipe = max(200, int(4_000_000 * SF))
    frontier_pipeline_once(spark, n_pipe, n_hosts_pipe, 2000)  # warm
    best = None
    for _ in range(2):
        r = frontier_pipeline_once(spark, n_pipe, n_hosts_pipe, 2000)
        r["total"] = r["jvm_secs"] + r["py_secs"]
        if best is None or r["total"] < best["total"]:
            best = r
    pipe_secs = best["total"]
    timings["frontier_oneround"] = round(pipe_secs, 3)
    timings["frontier_jvm_stage"] = round(best["jvm_secs"], 3)
    timings["frontier_py_stage"] = round(best["py_secs"], 3)

    if ONLY == "pipeline":
        print(json.dumps({
            "metric": "one-round frontier pipeline (canonicalize+dedup+robots+cut | fetch+decode+verify)",
            "value": round(pipe_secs, 3), "unit": "sec", "queries": timings,
            "sf": SF, "cpus": CPUS, "pipeline_urls": n_pipe,
            "pipeline_scheduled": best["scheduled"],
            "pipeline_urls_per_sec": round(n_pipe / pipe_secs, 1),
            "jvm_gc_secs": best["jvm_gc_secs"], "py_gc_secs": best["py_gc_secs"],
            "shuffle_parts": PARTITIONS,
        }))
        spark.stop()
        return

    # --- headline: the crawl ------------------------------------------------
    n_urls = max(2000, int(4_000_000 * SF))
    n_hosts = max(50, int(20_000 * SF))
    n_images = 2000
    seeds = gen_frontier_seeds(spark, n_urls, n_hosts=n_hosts, parts=128)
    robots = gen_robots(spark, n_hosts)
    budgets = gen_budgets(spark, n_hosts)
    images = gen_images(spark, n_images, parts=64)
    # min-of-2 draws, fresh workdir each (same protocol as the pipeline
    # stage): single-VM 32-thread draws spread ~2.5× across the day
    # (measured 37–94 s at sf0.1 in round 2) and a single draw committed
    # the worst of it to the record; the min is the reproducible signal
    crawl_secs, n_crawled = None, 0
    for _ in range(2):
        workdir = tempfile.mkdtemp(prefix="cola_bench_", dir="/dev/shm")
        cfg = CrawlConfig(workdir=workdir, n_images=n_images, max_rounds=5,
                          salt_buckets=16, fetch_mode="fused")
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        t0 = time.monotonic()
        log = run_crawl(spark, seeds, robots, budgets, images, cfg)
        n_crawled = log.count()
        secs = time.monotonic() - t0
        shutil.rmtree(workdir, ignore_errors=True)
        if crawl_secs is None or secs < crawl_secs:
            crawl_secs = secs
    timings["crawl_5rounds"] = round(crawl_secs, 3)
    # URLs that completed canonicalize→dedup→schedule gate per second:
    # every candidate row is processed by the admission+cut pipeline
    frontier_throughput = n_urls / crawl_secs

    # --- driver-table operator queries -------------------------------------
    for name in BENCH_QUERIES:
        fn, _sql = PAIRS[name]
        t0 = time.monotonic()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.monotonic() - t0, 3)

    # the production-default MinHash configuration (xxhash64 family,
    # 8-byte compressed band keys) — the scale path itself, distinct
    # from the md5/raw-band-key oracle form benched above
    from cola_spark.operators.textdedup import (
        exact_jaccard,
        minhash_dedup_pairs,
        prefix_jaccard_pairs,
        shingles,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t0 = time.monotonic()
    minhash_dedup_pairs(docs, eager_release=True).write.format(
        "noop").mode("overwrite").save()
    timings["minhash_production"] = round(time.monotonic() - t0, 3)

    # --- dedup scale evidence ----------------------------------------------
    # The scale determinant is join VOLUME, not sandbox wall-clock: at
    # sf0.1 both exact plans are fixed-cost-bound (a 28M-row codegen'd
    # hash join costs ~1.5s on 32 cores, so the all-pairs form is
    # wall-time-competitive here — recorded honestly below). What kills
    # the all-pairs join at corpus scale is boilerplate: a shingle
    # shared by every page contributes C(f,2) ~ (corpus size)^2 join
    # rows that never produce a pair. The prefix join's keys exclude
    # precisely those shingles; its volume tracks the true near-dup
    # output. Measured on (a) the sf corpus as-is and (b) a
    # boilerplate-heavy variant (the same docs + one shared 17-word
    # footer — the web-corpus shape): exact Σ C(f,2) counts from
    # frequency aggregates, linear-time, plus warm wall times on (b).
    from cola_spark.operators.textdedup import jaccard_join_volumes

    BOILER = (
        "all rights reserved privacy policy terms of service subscribe "
        "to our newsletter accept cookies to continue"
    )
    boiler = docs.filter(F.col("doc_id") < 2000).withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit(BOILER))
    )
    ap_vol, pf_vol = jaccard_join_volumes(docs)
    bap_vol, bpf_vol = jaccard_join_volumes(boiler)
    t0 = time.monotonic()
    exact_jaccard(shingles(boiler)).filter(
        F.col("common") * 10 >= 2 * (F.col("na") + F.col("nb") - F.col("common"))
    ).write.format("noop").mode("overwrite").save()
    timings["jaccard_allpairs_boiler"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    prefix_jaccard_pairs(boiler, eager_release=True).write.format(
        "noop").mode("overwrite").save()
    timings["jaccard_prefix_boiler"] = round(time.monotonic() - t0, 3)
    dedup_scale = {
        "sf_allpairs_join_rows": ap_vol,
        "sf_prefix_join_rows": pf_vol,
        "boiler_allpairs_join_rows": bap_vol,
        "boiler_prefix_join_rows": bpf_vol,
        "boiler_volume_ratio": round(bap_vol / max(bpf_vol, 1), 1),
    }

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline suite wall time (one-round pipeline + crawl 5 rounds + operator queries)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF,
        "cpus": CPUS,
        "frontier_urls": n_urls,
        "frontier_urls_per_sec": round(frontier_throughput, 1),
        "pipeline_urls": n_pipe,
        "pipeline_urls_per_sec": round(n_pipe / pipe_secs, 1),
        "crawled": n_crawled,
        "dedup_scale": dedup_scale,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
