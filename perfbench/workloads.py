"""The two workloads. Each one: builds its inputs from the seed, warms
up untimed, runs a measured phase of whole units (crawl iterations or
ingest passes) for at least ``seconds``, and checks every unit's output.

A workload returns a ``Result``; ``run.py`` turns it into the JSON line.
Spans wrap every call into the program's public functions; they are only
recorded in the traced run.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from harness import JobIds, Tracer, WorkerRss, median, xor_digest

MIN_UNITS = 3  # measured units per run, whatever ``seconds`` says


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    run_dir: str
    seed: int
    seconds: float
    cores: int
    session_start_s: float
    digests: dict | None  # recorded digests when the seed is the default
    record: dict = field(default_factory=dict)  # digests found this run


@dataclass
class Result:
    attempted: int
    failed: int
    end_to_end: dict
    per_layer: dict
    notes: list = field(default_factory=list)


def _phase(ctx: Ctx, name: str, unit):
    """Run ``unit()`` until ``ctx.seconds`` have passed (and at least
    MIN_UNITS times). ``unit`` returns (units_done, ok, info). Returns
    (walls, units, failures, infos, phase_wall, worker_peak_mb)."""
    rss = WorkerRss()
    rss.start()
    walls, infos, units, failed = [], [], 0, 0
    t0 = time.perf_counter()
    with ctx.tracer.span("phase", workload=name):
        while len(walls) < MIN_UNITS or time.perf_counter() - t0 < ctx.seconds:
            t = time.perf_counter()
            try:
                with ctx.tracer.span("unit", index=len(walls)):
                    n, ok, info = unit()
            except Exception as e:  # a unit that raises is a failed operation
                n, ok, info = 0, False, {"error": repr(e)}
            walls.append(time.perf_counter() - t)
            units += n
            failed += 0 if ok else 1
            infos.append(info)
            if "error" in info:
                break  # the program state is unknown after a raise
    phase_wall = time.perf_counter() - t0
    return walls, units, failed, infos, phase_wall, rss.stop()


def _med(xs) -> float:
    """Median of the completed units' figures; 0 when none completed."""
    return median(xs) if xs else 0.0


def _e2e(setup_s, walls, units, phase_wall, peak_mb) -> dict:
    return {
        "setup_s": setup_s,
        "pages_per_s": units / phase_wall,
        "iter_s_p50": median(walls),
        "worker_peak_rss_mb": peak_mb,
    }


# --------------------------------------------------------------------------
# crawl_deep: a BFS crawl past the frontier-scale thresholds


CRAWL_REPLICATE = 2  # 10,000 pages on 20 hosts (host0 ~40%)
CRAWL_SEEDS = 9_000
CRAWL_WARMUP_ITERS = 1  # bootstrap + iteration 0, the cold one


def crawl_config():
    from crawl4ai_spark.plans.crawl import CrawlConfig

    # the three thresholds are lowered so the frontier-scale paths run on a
    # 10k-page web: distributed seed bootstrap and shuffled fetch joins
    # (frontier > 6k), salted two-pass politeness windows (frontier > 4k)
    # and the bloom seen pre-filter (seen > 8k). The frontier starts at 9k
    # and shrinks ~250 rows per iteration, so no threshold is crossed
    # during the run, for any seed: every iteration takes the same paths
    return CrawlConfig(
        max_pages=10**9,
        host_budget=25,
        include_external=True,
        pages_unique=True,
        broadcast_frontier_max=6_000,
        salt_bypass_rows=4_000,
        bloom_min_seen=8_000,
    )


def crawl_deep(ctx: Ctx) -> Result:
    from crawl4ai_spark.plans.crawl import CrawlRun
    from crawl4ai_spark.sources.synthetic import build_pages, build_robots

    spark, tr = ctx.spark, ctx.tracer
    cfg = crawl_config()
    t_in = time.perf_counter()
    with tr.span("inputs"):
        docs_dir = inputs.write_documents(os.path.join(ctx.run_dir, "docs"))
        with tr.span("sources.synthetic.build_pages"):
            pages = build_pages(
                spark, docs_dir, replicate=CRAWL_REPLICATE, partitions=2 * ctx.cores
            ).cache()
            n_pages = pages.count()
        with tr.span("sources.synthetic.build_robots"):
            robots = build_robots(spark).cache()
            robots.count()
        ids = inputs.crawl_seed_ids(ctx.seed, n_pages, CRAWL_SEEDS)
        seeds = spark.createDataFrame(
            [(inputs.synthetic_url(i), r) for r, i in enumerate(ids)],
            "url string, seed_rank int",
        )
    inputs_s = time.perf_counter() - t_in

    run = CrawlRun(spark, pages, robots, seeds, os.path.join(ctx.run_dir, "crawl"), cfg)
    jobs = JobIds(spark)

    def iteration():
        j0 = jobs.last()
        t = time.perf_counter()
        with tr.span("plans.crawl.run_iteration"):
            s = run.run_iteration()
        wall = time.perf_counter() - t
        if s.get("done"):
            raise RuntimeError(f"crawl ended early: {s}")
        return {
            "iteration": s["iteration"],
            "wall": wall,
            "body_s": s["seconds"],
            "laps": s["profile"],
            "jobs": jobs.last() - j0,
            "rows": s["selected"],
            "new_urls": s["new_urls"],
        }

    t_w = time.perf_counter()
    with tr.span("warmup"):
        warm = [iteration() for _ in range(CRAWL_WARMUP_ITERS)]
    warmup_s = time.perf_counter() - t_w
    # the first call also bootstraps: its wall minus the iteration body
    bootstrap_s = warm[0]["wall"] - warm[0]["body_s"]

    def unit():
        info = iteration()
        return info["rows"], True, info

    walls, units, failed, infos, phase_wall, peak_mb = _phase(ctx, "crawl_deep", unit)
    done = [i for i in infos if "error" not in i]

    # read back and check every iteration run (warm-up included)
    t_rb = time.perf_counter()
    with tr.span("sources.snapshots.readback"):
        bad, digests = _check_crawl(run, cfg.host_budget)
    readback_s = time.perf_counter() - t_rb
    ctx.record["crawl"] = digests
    want = (ctx.digests or {}).get("crawl") or {}
    for k, d in digests.items():
        if k in want and want[k] != d:
            bad.setdefault(k, f"iteration {k} digest {d} != recorded {want[k]}")
    measured = {str(i["iteration"]) for i in done}
    if set(bad) - measured:
        failed = len(walls)  # a bad warm-up iteration feeds every measured one
    else:
        failed = min(len(walls), failed + len(set(bad) & measured))

    n_dirs = sum(
        len(t.snapshot_dirs() or [])
        for t in (run.t_frontier, run.t_seen, run.t_results)
    )
    laps = lambda k: _med([i["laps"].get(k, 0.0) for i in done])  # noqa: E731
    per_layer = {
        "session.start_s": ctx.session_start_s,
        "inputs.build_s": inputs_s,
        "warmup_s": warmup_s,
        "crawl.bootstrap_s": bootstrap_s,
        "crawl.fetch_extract_s": laps("fetch_extract"),
        "crawl.discover_dedup_s": laps("discover_dedup"),
        "crawl.commit_s": laps("commit"),
        "crawl.outside_laps_s": _med(
            [i["wall"] - sum(i["laps"].values()) for i in done]
        ),
        "crawl.jobs_per_iter": _med([i["jobs"] for i in done]),
        "crawl.rows_per_iter": _med([i["rows"] for i in done]),
        "crawl.new_urls_per_iter": _med([i["new_urls"] for i in done]),
        "snapshots.data_dirs": n_dirs,
        "snapshots.readback_s": readback_s,
    }
    if tr.enabled:
        per_layer.update(_html_kernels(ctx, _crawl_sample(pages, ctx.seed)))
    setup_s = ctx.session_start_s + inputs_s + warmup_s
    return Result(
        attempted=len(walls),
        failed=failed,
        end_to_end=_e2e(setup_s, walls, units, phase_wall, peak_mb),
        per_layer=per_layer,
        notes=[f"iterations {[i['iteration'] for i in done]}", *bad.values(),
               f"inputs {inputs_s:.1f} s, bootstrap {bootstrap_s:.1f} s, warm-up {warmup_s:.1f} s",
               f"iteration walls {[round(w, 2) for w in walls]}",
               f"jobs per iteration {[i['jobs'] for i in done]}"],
    )


def _check_crawl(run, host_budget: int):
    """Per-iteration invariants and digests over the committed tables.
    Returns (iterations that broke an invariant, {iteration: digest})."""
    from pyspark.sql import functions as F

    res, seen = run.results(), run.seen()
    per_iter = (
        res.groupBy("iteration")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("visit_order").alias("lo"),
            F.max("visit_order").alias("hi"),
            F.countDistinct("visit_order").alias("nd"),
            F.expr("bit_xor(xxhash64(url, url_norm, visit_order, status_code, depth))").alias("d"),
        )
        .collect()
    )
    host_max = {
        r["iteration"]: r["m"]
        for r in res.groupBy("iteration", "host").count()
        .groupBy("iteration").agg(F.max("count").alias("m")).collect()
    }
    unseen = {
        r["iteration"]: r["count"]
        for r in res.join(seen, "url_norm", "left_anti").groupBy("iteration").count().collect()
    }
    seen_d = {
        r["first_iter"]: (r["n"], r["d"])
        for r in seen.groupBy("first_iter")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(url_norm, depth))").alias("d"),
        )
        .collect()
    }
    bad, digests, base = {}, {}, 0
    for r in sorted(per_iter, key=lambda r: r["iteration"]):
        k = r["iteration"]
        # visit_order runs 1..N over the whole crawl, one block per iteration
        if not (r["lo"] == base + 1 and r["hi"] == base + r["n"] and r["nd"] == r["n"]):
            bad[str(k)] = f"visit_order not dense: {r['lo']}..{r['hi']} ({r['nd']} of {r['n']}) after {base}"
        elif host_max.get(k, 0) > host_budget:
            bad[str(k)] = f"{host_max[k]} rows for one host > host_budget {host_budget}"
        elif unseen.get(k, 0):
            bad[str(k)] = f"{unseen[k]} result urls missing from seen"
        base += r["n"]
        # seen rows first enqueued by iteration k carry first_iter k+1
        digests[str(k)] = [r["n"], r["d"], *seen_d.get(k + 1, (0, 0))]
    return bad, digests


def _crawl_sample(pages, seed: int, k: int = 16):
    from pyspark.sql import functions as F

    rows = (
        pages.select("url", "html")
        .filter(F.xxhash64("url", F.lit(seed)) % 97 == 0)
        .orderBy("url")
        .limit(k)
        .collect()
    )
    return [(r["url"], bytes(r["html"]).decode("utf-8")) for r in rows]


def _html_kernels(ctx: Ctx, sample: list[tuple[str, str]], reps: int = 3) -> dict:
    """Single-process ms/page of each html kernel over ``sample``
    (median of ``reps`` sweeps), and the sample's mean page size."""
    from crawl4ai_spark.html.markdown import generate_markdown_parts
    from crawl4ai_spark.html.parser import parse_html
    from crawl4ai_spark.html.pruning import prune_fit_html
    from crawl4ai_spark.html.scrape import scrape_page

    cleaned = [scrape_page(h, u)["cleaned_html"] or "" for u, h in sample]
    kernels = {
        "parse_html": lambda i: parse_html(sample[i][1]),
        "scrape_page": lambda i: scrape_page(sample[i][1], sample[i][0]),
        "generate_markdown_parts": lambda i: generate_markdown_parts(cleaned[i], sample[i][0]),
        "prune_fit_html": lambda i: prune_fit_html(cleaned[i]),
    }
    out = {}
    with ctx.tracer.span("html.kernels"):
        for name, fn in kernels.items():
            sweeps = []
            for _ in range(reps):
                t = time.perf_counter()
                for i in range(len(sample)):
                    fn(i)
                sweeps.append((time.perf_counter() - t) * 1000 / len(sample))
            out[f"html.{name}_ms"] = median(sweeps)
    out["html.page_kb"] = sum(len(h.encode()) for _, h in sample) / len(sample) / 1024
    return out


# --------------------------------------------------------------------------
# warc_ingest: CC-sized WARC segments -> seeded slice -> extract_pages

WARC_SEGMENTS = 4
WARC_RECORDS = 2_400  # 600 per segment, ~20 KB mean page
WARC_BASES = 800  # distinct bodies; later records replicate them
WARC_SLICE_EVERY = 8
WARC_SAMPLE = 8  # pages checked against (and timed in) the html kernels
WARC_WARMUP_PASSES = 2
CURATE_BASES, CURATE_REPS = 300, 4
RELAXED_GATES = dict(
    min_words=10, min_stop_types=0, min_alpha_ratio=0.0,
    min_mean_wl=1.0, max_mean_wl=20.0, max_symbol_ratio=1.0,
)
CURATE_KW = dict(
    span_window=20, span_stride=10, minhash_threshold=0.8,
    gopher_kwargs=RELAXED_GATES, languages=("en", "und", "de", "fr", "es"),
)
CURATE_STAGES = (
    "lang", "gopher_quality", "gopher_repetition", "c4",
    "exact_dedup", "near_dedup", "line_dedup", "span_screen",
)


def _cc_url(r: int) -> str:
    return f"https://cc{r % 16}.example/p/{r}"


def _write_cc_pages(ctx: Ctx, docs_dir: str):
    """CC-sized pages: synthetic pages grown by splicing corpus article
    bodies. Returns (pages parquet path, slice urls, sample urls,
    raw bytes)."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.sources.synthetic import build_pages

    with ctx.tracer.span("sources.synthetic.build_pages"):
        base = {
            int(r["url"].rsplit("/", 1)[1]): bytes(r["html"]).decode()
            for r in build_pages(ctx.spark, docs_dir)
            .filter(F.regexp_extract("url", r"/p/(\d+)$", 1).cast("int") < WARC_BASES)
            .select("url", "html")
            .collect()
        }
    texts = pq.read_table(os.path.join(docs_dir, "documents.parquet"), columns=["text"])
    texts = texts.column("text").to_pylist()
    sizes, exact, picked = inputs.cc_page_plan(
        ctx.seed, WARC_RECORDS, WARC_BASES, WARC_SLICE_EVERY
    )
    urls, htmls = [], []
    for r in range(WARC_RECORDS):
        b = r % WARC_BASES
        bodies = [texts[(b * 37 + j * 101) % len(texts)] for j in range(64)]
        opening = None if r < WARC_BASES or exact[r] else (
            f"unique opening number {r} of this page okay."
        )
        urls.append(_cc_url(r))
        htmls.append(inputs.splice_page(base[b], bodies, sizes[b], opening).encode())
    path = os.path.join(ctx.run_dir, "cc_pages.parquet")
    ts = pa.array([1751328000_000_000] * WARC_RECORDS, pa.timestamp("us", tz="UTC"))
    pq.write_table(pa.table({"url": urls, "warc_ts": ts, "html": pa.array(htmls, pa.binary())}), path)
    pick = set(picked)
    slice_urls = [_cc_url(r) for r in range(WARC_RECORDS) if r % WARC_BASES in pick]
    sample = sorted(random.Random(ctx.seed).sample(slice_urls, WARC_SAMPLE))
    by_url = dict(zip(urls, htmls))
    return path, slice_urls, [(u, by_url[u].decode()) for u in sample], sum(map(len, htmls))


def warc_ingest(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from crawl4ai_spark.plans.extract import extract_pages, extract_udf
    from crawl4ai_spark.sources.warc import pages_from_warc, write_warc

    spark, tr = ctx.spark, ctx.tracer
    t_in = time.perf_counter()
    with tr.span("inputs"):
        docs_dir = inputs.write_documents(os.path.join(ctx.run_dir, "docs"))
        path, slice_urls, sample, raw_bytes = _write_cc_pages(ctx, docs_dir)
        warc_dir = os.path.join(ctx.run_dir, "warc")
        t_w = time.perf_counter()
        with tr.span("sources.warc.write_warc"):
            manifest = write_warc(
                spark.read.parquet(path).repartition(WARC_SEGMENTS), warc_dir
            ).collect()
        write_s = time.perf_counter() - t_w
        slice_df = spark.createDataFrame([(u,) for u in slice_urls], "url string").cache()
        slice_df.count()
    inputs_s = time.perf_counter() - t_in
    glob = os.path.join(warc_dir, "*.warc.gz")
    sample_urls = [u for u, _ in sample]
    fields = ["text", "raw_markdown", "markdown_with_citations", "fit_markdown"]

    # single-process reference output of the fused extract kernel
    import pandas as pd

    ref = extract_udf.func(
        pd.Series([h.encode() for _, h in sample]), pd.Series(sample_urls)
    )
    ref = {u: tuple(ref[f].iloc[i] for f in fields) for i, u in enumerate(sample_urls)}

    def scan_pass():
        with tr.span("sources.warc.pages_from_warc"):
            r = pages_from_warc(spark, glob).agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(url, html))").alias("d"),
            ).collect()[0]
        return r["n"], r["d"]

    def extract_pass():
        with tr.span("plans.extract.extract_pages"):
            x = extract_pages(
                pages_from_warc(spark, glob).join(F.broadcast(slice_df), "url")
            )
            rows = x.select(
                "url",
                F.xxhash64(
                    "url", "scrape.text", "markdown.raw_markdown",
                    "markdown.markdown_with_citations", "markdown.fit_markdown",
                ).alias("h"),
                F.when(
                    F.col("url").isin(sample_urls),
                    F.struct(
                        F.col("scrape.text"), F.col("markdown.raw_markdown"),
                        F.col("markdown.markdown_with_citations"),
                        F.col("markdown.fit_markdown"),
                    ),
                ).alias("full"),
            ).collect()
        got = {r["url"]: tuple(r["full"]) for r in rows if r["full"] is not None}
        return len(rows), xor_digest(r["h"] for r in rows), got == ref

    want = (ctx.digests or {}).get("warc_ingest")
    first = {}

    def unit():
        n, d, same = extract_pass()
        first.setdefault("d", d)
        ok = (
            n == len(slice_urls)
            and same
            and d == first["d"]
            and (want is None or d == want["extract"])
        )
        return n, ok, {"n": n, "digest": d, "kernel_match": same}

    t_w = time.perf_counter()
    with tr.span("warmup"):
        for _ in range(WARC_WARMUP_PASSES):
            extract_pass()
    warmup_s = time.perf_counter() - t_w
    walls, units, failed, infos, phase_wall, peak_mb = _phase(ctx, "warc_ingest", unit)
    ctx.record["warc_ingest"] = {"extract": first.get("d")}

    per_layer = {
        "session.start_s": ctx.session_start_s,
        "inputs.build_s": inputs_s,
        "warmup_s": warmup_s,
        "warc.write_s": write_s,
        "warc.segment_raw_mb": raw_bytes / WARC_SEGMENTS / 2**20,
        "warc.segment_gz_mb": sum(m["n_bytes"] for m in manifest) / len(manifest) / 2**20,
    }
    if tr.enabled:
        # scan-only passes, then kernel timing on the checked sample
        rss = WorkerRss()
        rss.start()
        scans = []
        for _ in range(MIN_UNITS):
            t = time.perf_counter()
            n_rec, _ = scan_pass()
            scans.append(time.perf_counter() - t)
            failed += n_rec != WARC_RECORDS
        per_layer["warc.scan_worker_peak_rss_mb"] = rss.stop()
        scan_s = median(scans)
        extract_s = median(walls) - scan_s
        per_layer.update({
            "warc.scan_s": scan_s,
            "warc.scan_records_per_s": n_rec / scan_s,
            "extract.s": extract_s,
        })
        per_layer.update(_html_kernels(ctx, sample))
        t = time.perf_counter()
        for _ in range(3):
            extract_udf.func(pd.Series([h.encode() for _, h in sample]), pd.Series(sample_urls))
        kernel_ms = (time.perf_counter() - t) * 1000 / (3 * len(sample))
        per_layer["extract.udf_overhead_frac"] = 1 - (
            kernel_ms / 1000 * len(slice_urls) / (extract_s * ctx.cores)
        )
        curate_layer, ok = _curate_tiers(ctx, docs_dir)
        per_layer.update(curate_layer)
        failed += 0 if ok else 1
    setup_s = ctx.session_start_s + inputs_s + warmup_s
    return Result(
        attempted=len(walls),
        failed=min(failed, len(walls)),
        end_to_end=_e2e(setup_s, walls, units, phase_wall, peak_mb),
        per_layer=per_layer,
        notes=[
            f"pages per pass {[i.get('n') for i in infos]}",
            f"pass walls {[round(w, 2) for w in walls]}",
        ],
    )


def _curate_tiers(ctx: Ctx, docs_dir: str):
    """Each curation tier's public function alone over one seeded
    corpus, then the composed ``curate_corpus`` with its attrition
    report. Returns (metrics, output check passed)."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.datapipe.curate import curate_corpus, curation_report
    from crawl4ai_spark.datapipe.dedup import minhash_dedup_pairs
    from crawl4ai_spark.datapipe.linededup import dedup_lines_corpus
    from crawl4ai_spark.datapipe.pii import pii_counts_col, redact_pii_col
    from crawl4ai_spark.datapipe.spandedup import duplicate_span_stats
    from crawl4ai_spark.datapipe.textstats import fingerprint_col, lang_id_col
    from crawl4ai_spark.datapipe.webquality import (
        c4_clean_col,
        c4_page_gate_col,
        gopher_gate_col,
        gopher_metrics_frame,
        gopher_repetition_frame,
    )

    spark, tr = ctx.spark, ctx.tracer
    texts = pq.read_table(os.path.join(docs_dir, "documents.parquet"), columns=["text"])
    rows = inputs.curation_rows(
        ctx.seed, texts.column("text").to_pylist(), CURATE_BASES, CURATE_REPS
    )
    path = os.path.join(ctx.run_dir, "curate_in")
    spark.createDataFrame(rows, "doc_id long, text string").repartition(
        ctx.cores
    ).write.parquet(path)
    corpus = spark.read.parquet(path)

    def rule_gates():
        g = gopher_repetition_frame(gopher_metrics_frame(corpus, "text", "_m"), "text")
        return g.select(
            lang_id_col("text").alias("lang"),
            gopher_gate_col(F.col("_m"), **RELAXED_GATES).alias("g"),
            c4_page_gate_col(c4_clean_col("text")).alias("c4"),
        ).agg(F.count("lang"), F.sum(F.col("g").cast("int")), F.sum(F.col("c4").cast("int")))

    tiers = {
        "rule_gates": rule_gates,
        "exact_dedup": lambda: corpus.groupBy(fingerprint_col("text").alias("fp"))
        .agg(F.min("doc_id").alias("rep")).agg(F.count("rep")),
        "minhash": lambda: minhash_dedup_pairs(
            corpus, "doc_id", "text", hash_fn=F.xxhash64, threshold=0.8
        ).agg(F.count(F.lit(1))),
        "line_dedup": lambda: dedup_lines_corpus(corpus, "doc_id", "text").agg(
            F.count(F.lit(1)), F.sum("n_lines_kept"), F.sum(F.length("text_clean"))
        ),
        "span": lambda: duplicate_span_stats(
            corpus, "doc_id", "text", window=CURATE_KW["span_window"],
            stride=CURATE_KW["span_stride"],
        ).agg(F.count(F.lit(1)), F.sum("dup_span_frac")),
        "pii": lambda: corpus.select(
            F.length(redact_pii_col("text")).alias("n"), pii_counts_col("text").alias("p")
        ).agg(F.sum("n"), F.sum(F.col("p.n_email"))),
    }
    out = {}
    for name, build in tiers.items():
        t = time.perf_counter()
        with tr.span(f"datapipe.{name}"):
            build().collect()
        out[f"curate.{name}_s"] = time.perf_counter() - t
    with tr.span("datapipe.curate_corpus"):
        cur = curate_corpus(corpus, minhash_hash_fn=F.xxhash64, **CURATE_KW).cache()
        report = {r["drop_stage"]: r["n_docs"] for r in curation_report(cur).collect()}
        digest = cur.agg(
            F.expr("bit_xor(xxhash64(doc_id, kept, drop_stage, text_out))")
        ).collect()[0][0]
    cur.unpersist()
    total = sum(report.values())
    out["curate.kept_frac"] = report.get(None, 0) / total
    for s in CURATE_STAGES:
        out[f"curate.dropped.{s}"] = report.get(s, 0)
    ctx.record["curate"] = {"digest": digest}
    want = (ctx.digests or {}).get("curate")
    return out, total == len(rows) and (want is None or want["digest"] == digest)


WORKLOADS = {"crawl_deep": crawl_deep, "warc_ingest": warc_ingest}
