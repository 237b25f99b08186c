"""Seeded input generators for the two workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs, another seed gives different ones. The engine
only ever sees what these functions write (a pages parquet table or the
curation tables); the expected outputs stay on the benchmark side and
are derived from how each document was built, never from the engine.
"""

from __future__ import annotations

import datetime
import math
import os
import random
import statistics
from typing import List, NamedTuple, Optional

from pdfspark import docgen
from pdfspark.corpus import all_cases

_EPOCH = datetime.datetime(2025, 1, 1)
WORDS_PER_PAGE = 220            # one "page equivalent" of source text
PAGE_CHARS = 1400               # chars per page in the multipage layout
# pdf_bulk's composition. Nothing in the repository or in a public crawl
# statistic fixes these numbers: they are a synthetic choice, listed with
# their measured share of kernel time in README.md.
GIANT_SHARE = 0.005             # the straggler tail of the layout PDFs
GIANT_PAGES = (24, 40)
_LOGNORMAL_MU, _LOGNORMAL_SIGMA = math.log(1.6), 0.7
MAX_PAGES = 12                  # cap of the log-normal body
HTML_SHARE = 0.04               # HTML pages: the HTML extractor's rows
JUNK_SHARE = 0.01               # neither PDF nor HTML: the prefilter's rows


class Doc(NamedTuple):
    url: str
    data: bytes
    expected_text: Optional[str]   # None: the row carries no text
    expected_error: Optional[str]  # None: extraction must succeed
    kind: str
    dropped: bool = False          # True: the modality prefilter drops it


def vocabulary(rng: random.Random, n: int = 600) -> List[str]:
    """Lowercase a-z words of 2-8 letters: safe for every layout (the
    two-column gutter needs <=8-char words, the CJK layout a-z only)."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(2, 8)))
            for _ in range(n)]


def _text(rng: random.Random, vocab: List[str], n_words: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(max(3, n_words)))


def _lines(words: List[str], per_line: int, sep: str) -> List[str]:
    return [sep.join(words[i:i + per_line])
            for i in range(0, len(words), per_line)]


# Content-stream-order text of each layout under the pinned linearization
# policy: the pipeline extracts in operator order, so a layout whose stream
# order differs from reading order reads back in a closed form of the words.

def _expect_plain(text: str) -> str:
    return "\f".join(text[i:i + PAGE_CHARS]
                     for i in range(0, len(text), PAGE_CHARS))


def _expect_kerned(text: str) -> str:
    return "\n".join(_lines(text.split(" "), 8, ""))


def _expect_two_column(text: str) -> str:
    words = text.split(" ")
    half = (len(words) + 1) // 2
    left = _lines(words[:half], 3, " ")
    right = _lines(words[half:], 3, " ")
    rows = []
    for r in range(max(len(left), len(right))):
        rows.append((left[r] if r < len(left) else "")
                    + (right[r] if r < len(right) else ""))
    return "\n".join(rows)


def _expect_cjk(text: str) -> str:
    return _expect_kerned(text.translate(docgen._ASCII_TO_CJK))


def _table_cells(text: str) -> List[str]:
    words = text.split(" ")
    return [" ".join(words[2 * k:2 * k + 2])
            for k in range((len(words) + 1) // 2)]


TABLE_ROWS_PER_PAGE = 36


def _expect_table(text: str) -> str:
    cells = _table_cells(text)
    n_rows = (len(cells) + 2) // 3
    pages = []
    for p0 in range(0, n_rows, TABLE_ROWS_PER_PAGE):
        rows = range(p0, min(n_rows, p0 + TABLE_ROWS_PER_PAGE))
        # written column by column; a line break only where the baseline
        # moves, so a one-row page reads its cells run together
        out, prev = [], None
        for c in range(3):
            for r in rows:
                if r * 3 + c < len(cells):
                    if prev is not None and prev != r:
                        out.append("\n")
                    out.append(cells[r * 3 + c])
                    prev = r
        pages.append("".join(out))
    return "\f".join(pages)


def _expect_tagged(text: str) -> str:
    words = text.split(" ")
    n = len(words)
    a, b, c = words[:n // 3], words[n // 3:2 * n // 3], words[2 * n // 3:]
    return "\n".join(" ".join(p) for p in (b, a, c))


# kind -> (builder(text, meta_id), expected(text), share of pdf_bulk's
# layout PDFs)
LAYOUTS = {
    "plain": (lambda t, i: docgen.text_to_pdf_multipage(
        t, page_chars=PAGE_CHARS, meta_id=i), _expect_plain, 0.30),
    "kerned": (lambda t, i: docgen.text_to_pdf_kerned(t, meta_id=i),
               _expect_kerned, 0.15),
    "two_column": (lambda t, i: docgen.text_to_pdf_two_column(t, meta_id=i),
                   _expect_two_column, 0.15),
    "cjk": (lambda t, i: docgen.text_to_pdf_cjk_kerned(t, meta_id=i),
            _expect_cjk, 0.10),
    "table": (lambda t, i: docgen.text_to_pdf_table(
        t, meta_id=i, rows_per_page=TABLE_ROWS_PER_PAGE), _expect_table, 0.15),
    "tagged": (lambda t, i: docgen.text_to_pdf_tagged(t, meta_id=i),
               _expect_tagged, 0.15),
}


def _golden_pdf_cases():
    """Golden cases the PDF prefilter keeps, with their pinned text and
    error code: LZW/ASCIIHex/ASCII85/RunLength, predictors, xref recovery,
    encrypted and error rows."""
    return [c for c in all_cases() if b"%PDF-" in c.pdf[:1024]]


def _stratified_pages(rng: random.Random, n: int) -> List[int]:
    """``n`` log-normal page counts drawn by stratified quantiles: each
    document's size moves with the seed, their total barely does."""
    dist = statistics.NormalDist(_LOGNORMAL_MU, _LOGNORMAL_SIGMA)
    return [max(1, min(MAX_PAGES, round(math.exp(dist.inv_cdf(
        min(max((k + rng.random()) / n, 1e-6), 0.995))))))
        for k in range(n)]


def pdf_bulk_docs(seed: int, n: int) -> List[Doc]:
    """``n`` rows, every one a distinct document under its own url: each
    golden PDF case once, HTML_SHARE HTML pages, JUNK_SHARE junk rows
    (neither PDF nor HTML, so the modality prefilter drops them), and
    layout PDFs for the rest.

    Per-document cost differs ~20x between layouts, so the layout mix and
    each layout's page counts are stratified: the same for every seed up
    to jitter. The giants (GIANT_SHARE of the layout documents) alternate
    between the two multi-page layouts."""
    rng = random.Random(f"pdf_bulk/{seed}")
    vocab = vocabulary(rng)
    golden = _golden_pdf_cases()
    n_html, n_junk = round(n * HTML_SHARE), round(n * JUNK_SHARE)
    n_layout = n - len(golden) - n_html - n_junk
    n_giant = max(1, round(n_layout * GIANT_SHARE))
    kinds = list(LAYOUTS)
    quota = [int((n_layout - n_giant) * LAYOUTS[k][2]) for k in kinds]
    quota[0] += n_layout - n_giant - sum(quota)
    plan = [(k, p) for k, q in zip(kinds, quota)
            for p in _stratified_pages(rng, q)]
    lo, hi = GIANT_PAGES
    plan += [(("plain", "table")[g % 2],
              round(lo + (hi - lo) * (g + rng.random()) / n_giant))
             for g in range(n_giant)]
    plan += [("html", 0)] * n_html + [("junk", 0)] * n_junk
    rng.shuffle(plan)
    docs = []
    for i, (kind, pages) in enumerate(plan):
        url = f"https://bulk.example/{seed}/{i}"
        if kind == "junk":
            junk = bytes(rng.getrandbits(8) for _ in range(256))
            docs.append(Doc(url + ".bin", b"\x89JNK" + junk, None, None,
                            kind, dropped=True))
            continue
        if kind == "html":
            text = _text(rng, vocab, rng.randint(80, 400))
            docs.append(Doc(url + ".html", docgen.text_to_html(text, i),
                            text, None, kind))
            continue
        build, expect, _ = LAYOUTS[kind]
        text = _text(rng, vocab,
                     int(pages * WORDS_PER_PAGE * rng.uniform(0.9, 1.1)))
        docs.append(Doc(url + ".pdf", build(text, seed * 100_003 + i),
                        expect(text), None, kind))
    for k, c in enumerate(golden):
        docs.append(Doc(f"https://bulk.example/{seed}/g{k}.pdf", c.pdf,
                        c.expected_text, c.expected_error,
                        "golden:" + c.case_id))
    rng.shuffle(docs)
    return docs


def pages_rows(docs: List[Doc]) -> list:
    """Rows of the engine's pages-table schema (url, warc_ts, html, text,
    lang)."""
    return [(d.url, _EPOCH + datetime.timedelta(minutes=k), d.data, "", "en")
            for k, d in enumerate(docs)]


# ------------------------------------------------------- curation tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def curation_tables(seed: int, n_orders: int, n_docs: int, n_vecs: int,
                    out_dir: str) -> None:
    """Write lineitem/orders/customer/nation/region/documents/embeddings
    with the testdata schemas, one parquet file each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rs = np.random.default_rng(np.random.SeedSequence([seed, 0xC0]))
    n_cust = max(50, n_orders // 10)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rs.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rs.integers(0, 5, n_cust)]})
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    odate = day0 + rs.integers(0, 2400, n_orders).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i]
                          for i in rs.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rs.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i]
                            for i in rs.integers(0, 5, n_orders)]})
    per_order = rs.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(n_orders), per_order)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order])
    ship = (np.repeat(odate, per_order)
            + rs.integers(1, 120, n_li).astype("timedelta64[D]"))
    qty = rs.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rs.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(rs.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rs.uniform(900, 2100, n_li), 2),
        "l_discount": rs.integers(0, 11, n_li) / 100.0,
        "l_tax": rs.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rs.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rs.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    rng = random.Random(f"curation/{seed}")
    vocab = vocabulary(rng, 300)
    texts = [_text(rng, vocab, rng.randint(20, 160)) for _ in range(n_docs)]
    for i in range(0, n_docs, 17):      # exact duplicates for dedup_exact
        texts[i] = texts[(i * 7) % n_docs]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rs.normal(0, 0.15, (n_vecs, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rs.integers(0, 4, n_vecs), pa.int32())})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 20)
