"""The workloads. Each drives the engine only through its public functions
(``pipeline.run_pipeline`` / ``read_pages``, ``queries.QUERIES``) and checks
every output outside the timed section.

``run.py`` calls, in order:

- ``generate(seed, dir)``: write the seeded inputs (three times: the seed
  once for set-up, then, untimed, the seed again and the next seed to
  self-test it);
- ``warm()``: a fixed amount of warm-up work, never "until it settles";
- ``measure(seconds, call)``: the timed runs; ``call(name, fn)`` times one
  engine call and, when tracing, wraps it in a span and a job group;
- ``bases()`` and ``replay_docs()``: the bases of the throughput figures
  and a seeded sample of the workload's own documents, with their kind,
  for the single-core kernel replay.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import random
import shutil
import time
from typing import Dict, List, Tuple

import inputs
from inputs import Doc

RESUME_SKIP = 64      # run_pipeline's default npart: a resume skips them all
REPLAY_DOCS = 200     # documents in the single-core kernel replay


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(
        os.path.join(path, "**", "*"), recursive=True) if os.path.isfile(f))


def _files_digest(path: str) -> str:
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, path).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def write_pages(docs: List[Doc], path: str, n_files: int) -> None:
    """The pages table as ``n_files`` parquet files (round-robin rows):
    the pipeline runs its kernel on the input partitioning, so the file
    count sets the kernel's parallelism as it would for a crawl dump."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    rows = inputs.pages_rows(docs)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    for k in range(n_files):
        part = rows[k::n_files]
        cols = list(zip(*part)) if part else [[]] * 5
        t = pa.table([pa.array(list(c), f.type)
                      for c, f in zip(cols, schema)], schema=schema)
        pq.write_table(t, os.path.join(path, f"part-{k:05d}.parquet"))


def check_extracted(out_dir: str, docs: List[Doc]) -> int:
    """Failed rows of one pipeline output: every kept document must come
    back once with its exact text and error code, every dropped one not
    at all."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out_dir, "extracted"),
                      columns=["url", "text", "error"])
    got: Dict[str, tuple] = {}
    dup = 0
    for url, text, err in zip(*(t.column(c).to_pylist()
                                for c in ("url", "text", "error"))):
        dup += url in got
        got[url] = (text, err)
    failed = dup
    for d in docs:
        row = got.pop(d.url, None)
        if d.dropped:
            failed += row is not None
        elif row != (d.expected_text, d.expected_error):
            failed += 1
    return failed + len(got)


class Workload:
    name = ""
    min_reps = 2

    def __init__(self, spark, work: str, nproc: int, seed: int) -> None:
        self.spark, self.work, self.nproc, self.seed = spark, work, nproc, seed
        self.attempted = 0
        self.failed = 0
        self.notes: Dict[str, object] = {}

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.notes.setdefault("failures", []).append(what)

    def resume(self, pages_path: str, out: str) -> None:
        """run_pipeline again on a finished output dir: it must skip every
        partition and replay none."""
        from pdfspark.pipeline import read_pages, run_pipeline

        r = run_pipeline(self.spark, read_pages(self.spark, pages_path), out)
        self.attempted += 1
        self.fail(int(r.get("partitions_skipped") != RESUME_SKIP
                      or r.get("partitions_done") != 0), "resume replayed")

    def measure(self, seconds: float, call) -> List[dict]:
        """Closed loop, one client: reps back to back until ``seconds``
        have passed and at least ``min_reps`` are done."""
        samples, t0 = [], time.perf_counter()
        while (len(samples) < self.min_reps
               or time.perf_counter() - t0 < seconds):
            samples.append(self.rep(len(samples), call))
        return samples


# --------------------------------------------------------------- pdf_bulk

class PdfBulk(Workload):
    """One run_pipeline over a seeded table of multi-page layout PDFs,
    golden cases, HTML pages and junk rows per rep."""

    name = "pdf_bulk"
    N_DOCS = 1600
    # reps still speed up as the JIT warms, so every run measures the same
    # number of them unless the reps are fast enough to fit more
    min_reps = 3

    def generate(self, seed: int, path: str) -> str:
        docs = inputs.pdf_bulk_docs(seed, self.N_DOCS)
        write_pages(docs, path, 16 * self.nproc)
        if seed == self.seed and not hasattr(self, "docs"):
            self.docs, self.pages_path = docs, path
        return _files_digest(path)

    def warm(self) -> List[float]:
        # fixed warm-up: two untimed, checked full reps. The first is cold
        # (JVM, JIT, Python workers); measured reps still speed up after
        # one warm rep.
        return [self.rep(i, lambda _n, fn: _timed(fn))["wall"]
                for i in (-2, -1)]

    def rep(self, i: int, call) -> dict:
        from pdfspark.pipeline import read_pages, run_pipeline

        out = os.path.join(self.work, f"rep{i}")
        wall = call("run_pipeline", lambda: run_pipeline(
            self.spark, read_pages(self.spark, self.pages_path), out))
        resume_s = call("resume", lambda: self.resume(self.pages_path, out))
        self.attempted += len(self.docs)
        self.fail(check_extracted(out, self.docs), f"rep {i} output")
        sample = {"wall": wall, "resume_s": resume_s,
                  "output_b": _dir_bytes(out)}
        shutil.rmtree(out)
        return sample

    def bases(self) -> dict:
        return {"docs": len(self.docs),
                "input_bytes": sum(len(d.data) for d in self.docs)}

    def replay_docs(self) -> List[Tuple[str, bytes]]:
        rng = random.Random(f"replay/{self.seed}")
        return [(d.kind.split(":")[0], d.data)
                for d in rng.sample(self.docs, REPLAY_DOCS)]


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# ------------------------------------------------------- curation_queries

# the headline queries of bench.py other than the two extraction roundtrips
CURATION = ["q1_pricing_summary", "q5_region_revenue", "window_running_sum",
            "dedup_exact", "dedup_minhash_lsh", "ann_bruteforce_topk",
            "text_token_count"]
TABLES_READ = {
    "q1_pricing_summary": ["lineitem"],
    "q5_region_revenue": ["lineitem", "orders", "customer", "nation",
                          "region"],
    "window_running_sum": ["lineitem"],
    "dedup_exact": ["documents"],
    "dedup_minhash_lsh": ["documents"],
    "ann_bruteforce_topk": ["embeddings"],
    "text_token_count": ["documents"],
}


def _norm(v):
    """Engine-neutral value for the oracle diff: ints and floats keep
    distinct tags, floats compare at 9 decimals."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, float):
        return "nan" if math.isnan(v) else ("f", round(v, 9))
    if isinstance(v, int):
        return ("i", v)
    return str(v)


def _canon(cols, rows) -> list:
    order = sorted(range(len(cols)), key=lambda k: cols[k].lower())
    return sorted((tuple(_norm(r[k]) for k in order) for r in rows), key=repr)


class CurationQueries(Workload):
    """The headline's JVM queries over seeded tables, each warmed and
    timed as its own block."""

    name = "curation_queries"
    min_reps = 5
    # untimed runs at the start of each block. With one, a query's first
    # timed run was still the slowest, and the first pass the slowest
    # pass in 17 of 20 runs.
    warm_runs = 3
    N_ORDERS, N_DOCS, N_VECS = 40_000, 3000, 3000

    def generate(self, seed: int, path: str) -> str:
        os.makedirs(path, exist_ok=True)
        inputs.curation_tables(seed, self.N_ORDERS, self.N_DOCS, self.N_VECS,
                               path)
        if seed == self.seed and not hasattr(self, "sf_dir"):
            self.sf_dir = path
        return _files_digest(path)

    def warm(self) -> List[float]:
        """Fixed warm-up: every query once, collected and diffed against
        its DuckDB oracle."""
        import duckdb
        import pyarrow as pa
        from pdfspark.queries import ORACLES, QUERIES

        con = duckdb.connect()
        for t in ("lineitem", "orders", "customer", "nation", "region",
                  "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.sf_dir, t)}.parquet')")
        times, self.output_b = [], 0
        for name in CURATION:
            t0 = time.perf_counter()
            df = QUERIES[name](self.spark, self.sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            times.append(time.perf_counter() - t0)
            rel = con.sql(ORACLES[name])
            ok = ([c.lower() for c in sorted(cols, key=str.lower)]
                  == sorted(c.lower() for c in rel.columns)
                  and _canon(cols, rows) == _canon(rel.columns,
                                                   rel.fetchall()))
            self.attempted += 1
            self.fail(int(not ok), f"{name} differs from its oracle")
            self.output_b += pa.Table.from_pylist(
                [dict(zip(cols, r)) for r in rows]).nbytes if rows else 0
        con.close()
        return times

    def _noop(self, name: str) -> None:
        from pdfspark.queries import QUERIES

        QUERIES[name](self.spark, self.sf_dir).write.format("noop") \
            .mode("overwrite").save()

    def measure(self, seconds: float, call) -> List[dict]:
        """Each query in its own block (never round-robin): ``warm_runs``
        untimed runs, then timed runs back to back until the block has had
        its equal share of ``seconds`` and at least ``min_reps`` runs."""
        samples = []
        for name in CURATION:
            for _ in range(self.warm_runs):
                self._noop(name)
            t0, n = time.perf_counter(), 0
            while (n < self.min_reps
                   or time.perf_counter() - t0 < seconds / len(CURATION)):
                samples.append({"query": name,
                                "wall": call(name, lambda: self._noop(name))})
                self.attempted += 1
                n += 1
        return samples

    def bases(self) -> dict:
        import pyarrow.parquet as pq

        rows = nbytes = 0
        for name in CURATION:
            for t in TABLES_READ[name]:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                rows += pq.ParquetFile(p).metadata.num_rows
                nbytes += os.path.getsize(p)
        return {"docs": rows, "input_bytes": nbytes}

    def replay_docs(self) -> List[Tuple[str, bytes]]:
        """None: the queries run no document through the kernel, so the
        kernel metrics read 0."""
        return []


WORKLOADS = {w.name: w for w in (PdfBulk, CurationQueries)}
