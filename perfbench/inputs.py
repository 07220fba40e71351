"""Deterministic benchmark inputs, generated inside the run directory.

The corpus itself is fixed (generator seed ``CORPUS_SEED``): 5,000
documents with the shape and statistics of the sf0.1 ``documents`` table
(30-word vocabulary, 44-577 characters, the same language mix, 20
round-robin sources). The workload ``--seed`` only picks samples and
perturbations on top of it, so one seed always gives the same inputs and
different seeds exercise the same code paths with different data.
"""

from __future__ import annotations

import math
import os
import random
from statistics import NormalDist

import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20250701
N_DOCS = 5_000
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANG_MIX = (("en", 2059), ("zh", 753), ("es", 744), ("fr", 742), ("de", 702))


def write_documents(out_dir: str, n: int = N_DOCS) -> str:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars)
    into ``out_dir`` and return the directory, ready for
    ``sources.synthetic.build_pages(spark, out_dir)``."""
    rng = random.Random(CORPUS_SEED)
    langs = [lang for lang, k in LANG_MIX for _ in range(k)]
    texts, lang_col = [], []
    for _ in range(n):
        target = rng.randint(44, 577)
        words, size = [], -1
        while size < target:
            w = rng.choice(VOCAB)
            words.append(w)
            size += len(w) + 1
        texts.append(" ".join(words))
        lang_col.append(rng.choice(langs))
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": lang_col,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


def synthetic_url(doc_id: int) -> str:
    """The url ``sources.synthetic`` gives page ``doc_id`` (its documented
    host rule: ``doc_id % 5 < 2`` on host0, else host ``doc_id % 20``)."""
    host = 0 if doc_id % 5 < 2 else doc_id % 20
    return f"https://host{host}.example/p/{doc_id}"


def crawl_seed_ids(seed: int, n_pages: int, k: int) -> list[int]:
    """The crawl's seed sample: ``k`` distinct page ids out of ``n_pages``."""
    return sorted(random.Random(seed).sample(range(n_pages), k))


def cc_page_plan(seed: int, n_records: int, n_bases: int, slice_every: int):
    """Per-record plan for the CC-sized WARC corpus.

    Record ``r`` carries the body of base page ``r % n_bases``; replica 0
    is the original, later replicas are byte-identical copies (one in
    three) or near copies with a unique opening paragraph. Base page
    sizes are the ``n_bases`` quantiles of a log-normal (~20 KB mean,
    2-120 KB), so the size mix is the same for every seed; the seed deals
    the sizes to pages, picks the exact copies and picks the extracted
    slice: one base page per run of ``slice_every`` pages of adjacent
    size, with every replica, so the slice's size mix is stable too and
    duplicate groups stay whole.

    Returns (sizes per base, exact flag per record, sorted slice bases).
    """
    rng = random.Random(seed)
    normal = NormalDist(9.65, 0.6)
    sizes = [
        int(min(120_000, max(2_000, math.exp(normal.inv_cdf((i + 0.5) / n_bases)))))
        for i in range(n_bases)
    ]
    rng.shuffle(sizes)
    exact = [r >= n_bases and rng.random() < 1 / 3 for r in range(n_records)]
    by_size = sorted(range(n_bases), key=lambda b: (sizes[b], b))
    picked = sorted(
        rng.choice(by_size[i : i + slice_every]) for i in range(0, n_bases, slice_every)
    )
    return sizes, exact, picked


def splice_page(html: str, bodies: list[str], target: int, opening: str | None) -> str:
    """Grow a synthetic page to ``target`` bytes by splicing article
    bodies in front of ``</article>``; ``opening`` (near copies) becomes
    the first spliced paragraph."""
    parts = [f"<p>{opening}</p>"] if opening else []
    size = len(html)
    i = 0
    while size < target:
        body = bodies[i % len(bodies)]
        parts.append(f"<h2>Section {i}</h2><p>{body}</p>")
        size += len(parts[-1])
        i += 1
    head, sep, tail = html.partition("</article>")
    return head + "".join(parts) + sep + tail


WEB_HEADER = "cookie policy accept all cookies now."
WEB_FOOTER = "copyright footer all rights reserved."


def weblines_text(doc_id: int, text: str) -> str:
    """A web-page-shaped document from one corpus text: shared header and
    footer boilerplate around 6-word lines, some with a ``lorem ipsum``
    prefix or without a final period, every fifth repeating its first
    line (the shape of the curation benchmark input)."""
    h = random.Random(doc_id)
    toks = text.split()
    lines = [
        ("lorem ipsum " if h.random() < 1 / 13 else "")
        + " ".join(toks[i : i + 6])
        + ("." if h.random() < 2 / 3 else "")
        for i in range(0, len(toks), 6)
    ]
    if lines and doc_id % 5 == 0:
        lines.append(lines[0])
    return "\n".join([WEB_HEADER, *lines, WEB_FOOTER])


def curation_rows(seed: int, texts: list[str], n_bases: int, n_reps: int):
    """(doc_id, text) rows: ``n_reps`` replicas of each of the first
    ``n_bases`` documents. Replica 0 is the original; the seed makes each
    later replica a byte-identical copy (one in three) or a near copy
    with a unique opening line, so exact and near dedup both do work."""
    rng = random.Random(seed)
    rows = []
    for rep in range(n_reps):
        for b in range(n_bases):
            doc_id = b + rep * 1_000_000
            text = weblines_text(b, texts[b])
            if rep and rng.random() >= 1 / 3:
                text = f"unique opening number {doc_id} of this page okay.\n" + (
                    text.split("\n", 1)[1]
                )
            rows.append((doc_id, text))
    return rows
