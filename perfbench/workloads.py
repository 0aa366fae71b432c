"""The benchmark workloads.

Each workload is one closed-loop client: it issues its next operation
only after the previous one returned. ``setup`` generates the inputs
from the seed and seeds the engine; ``warm_up`` runs every kind of
operation once, untimed; ``op`` is one timed operation and raises on a
wrong result; ``check`` verifies the final state; ``report`` returns the
workload's named metrics.

The engine is driven only through the public functions of
``pipeline``, ``operators``, ``sources``, ``plans`` and ``functions``.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from spans import Tracer, listing, parquet_files

from spark_hudi_etl_pipeline_spark import plans
from spark_hudi_etl_pipeline_spark.functions import text
from spark_hudi_etl_pipeline_spark.operators import dedup, merge, similarity
from spark_hudi_etl_pipeline_spark.pipeline import runlog, runner
from spark_hudi_etl_pipeline_spark.sources import catalog

KEYED_COLS = [f.name for f in gen.KEYED_SCHEMA]
#: The registered analytic queries lake_query scans.
SCAN_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_profit_by_nation_year",
    "events_sessionize",
    "asof_purchase_prior_click",
)


class CheckFailed(AssertionError):
    """An operation returned a wrong result."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``, recursively."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def duck() -> duckdb.DuckDBPyConnection:
    return duckdb.connect(
        config={"threads": 2, "memory_limit": "1GB", "temp_directory": os.environ["TMPDIR"]}
    )


def keyed_config(name: str, source_dir: str, target: str, log: str) -> runner.PipelineConfig:
    """The keyed-upsert pipeline that writes every keyed table: key
    ``id``, precombine ``version`` (generated, so in-batch duplicates
    and stale rows have a defined winner), watermark ``ingest_ms``."""
    return runner.PipelineConfig(
        name=name,
        source=lambda spark: spark.read.parquet(source_dir),
        watermark_col="ingest_ms",
        target_path=target,
        log_path=log,
        record_keys=["id"],
        precombine_field="version",
        stamp_metadata=False,
    )


def compact_bytes(con: duckdb.DuckDBPyConnection, select_sql: str, out: str) -> int:
    """Size of ``select_sql``'s rows written as one snappy parquet file:
    the reference for space amplification."""
    con.execute(f"COPY ({select_sql}) TO '{out}' (FORMAT PARQUET, COMPRESSION SNAPPY)")
    size = os.path.getsize(out)
    os.remove(out)
    return size


# --------------------------------------------------------------------------
# Traced-run wrappers
# --------------------------------------------------------------------------


def _upsert_probe(rec, args, kwargs):
    """Directory listings of the upserted table before and after the
    call give files rewritten and bytes written."""
    path = kwargs["path"] if "path" in kwargs else args[2]
    before = parquet_files(listing(path))

    def after(out):
        now = parquet_files(listing(path))
        new = {n: v for n, v in now.items() if before.get(n) != v}
        rec["attrs"].update(
            live_files=len(before),
            files_rewritten=sum(1 for n, v in before.items() if now.get(n) != v),
            bytes_written=sum(size for size, _ in new.values()),
            table_files=len(now),
            table_bytes=sum(size for size, _ in now.values()),
        )
        return out

    return after


def _lookup_probe(rec, args, kwargs):
    """Live files before the lookup, and the files its frame scans."""
    live = parquet_files(listing(args[1]))

    def after(out):
        rec["attrs"].update(
            live_files=len(live),
            files_scanned=len(out.inputFiles()),
            table_files=len(live),
            table_bytes=sum(size for size, _ in live.values()),
        )
        return out

    return after


def _count_probe(rec, args, kwargs):
    """Count the rows of a lazily returned frame when the caller runs it
    (an Observation rides the caller's own job; no extra job)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    rec["attrs"]["observation"] = obs
    return lambda out: out.observe(obs, F.count(F.lit(1)).alias("n"))


#: Spans whose time, Spark jobs and tasks are reported per layer.
LAYER_SPANS = (
    "sources.load",
    "runner.run",
    "runner.extract",
    "runlog.watermark_read",
    "runlog.log_write",
    "merge.upsert",
    "merge.log_upsert",
    "merge.lookup",
    *(f"plans.{q}" for q in SCAN_QUERIES),
    "text.quality",
    "text.langid",
    "dedup.lsh",
    "dedup.cc",
    "similarity.ivf",
    "similarity.exact",
)


def install_wrappers(tr: Tracer) -> None:
    from spark_hudi_etl_pipeline_spark.plans import (
        analytics,
        analytics_tpch_gaps,
        extract,
        pipeline_plans,
    )
    from spark_hudi_etl_pipeline_spark import sources

    tr.wrap(runner, "run_pipeline", "runner.run")
    tr.wrap(runner, "extract_incremental", "runner.extract")
    tr.wrap(runner, "upsert_parquet", "merge.upsert", _upsert_probe)
    tr.wrap(merge, "upsert_parquet", "merge.upsert", _upsert_probe)
    tr.wrap(runlog, "upsert_parquet", "merge.log_upsert", _upsert_probe)
    tr.wrap(runlog, "get_last_run_timestamp", "runlog.watermark_read")
    tr.wrap(runlog, "write_log_entry", "runlog.log_write")
    tr.wrap(merge, "read_point_lookup", "merge.lookup", _lookup_probe)
    for name in SCAN_QUERIES:
        tr.wrap(plans.QUERIES, name, f"plans.{name}")
    for mod in (catalog, sources, analytics, analytics_tpch_gaps, extract, pipeline_plans):
        tr.wrap(mod, "load_table", "sources.load")
    tr.wrap(text, "quality_score_arrow", "text.quality")
    tr.wrap(text, "language_id_arrow", "text.langid")
    tr.wrap(dedup, "minhash_dedup_pairs", "dedup.lsh")
    tr.wrap(dedup, "lsh_candidate_pairs", "dedup.candidates", _count_probe)
    tr.wrap(dedup, "connected_components", "dedup.cc")
    tr.wrap(similarity, "ivf_ann", "similarity.ivf")
    tr.wrap(similarity, "topk_cosine", "similarity.exact")


# --------------------------------------------------------------------------
# etl_incremental
# --------------------------------------------------------------------------


class EtlIncremental:
    """Watermark-driven keyed upserts: each operation lands one batch
    and calls ``run_pipeline``. The write path (runner → merge upsert →
    audit-log write) does nearly all the work."""

    name = "etl_incremental"
    #: operation kinds behind op_cpu_s, with their weight in the mix
    LATENCY_MIX = {"run": 1}
    #: operation kinds whose items per CPU second make items_per_cpu_s
    THROUGHPUT_KINDS = ("run",)
    MIN_OPS = 2  # a run measures at least this many operations
    PREFIX = "etl"  # of the named metrics in the report line
    ALIASES = {
        "run_p50_s": "op_p50_s",
        "rows_per_s": "items_per_s",
        "run_cpu_s": "op_cpu_s",
        "rows_per_cpu_s": "items_per_cpu_s",
    }
    N_KEYS = 100_000  # seeded table
    BATCH_ROWS = 2_000  # rows landed per operation

    def __init__(self, spark, tracer: Tracer, seed: int, work: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.dir = os.path.join(work, "etl")

    def setup(self) -> None:
        self.land_dir = os.path.join(self.dir, "land")
        os.makedirs(self.land_dir)
        self.target = os.path.join(self.dir, "target")
        self.log = os.path.join(self.dir, "log")
        self.cfg = keyed_config("etl", self.land_dir, self.target, self.log)
        self.stream = gen.EtlStream(
            np.random.default_rng(self.seed), self.N_KEYS, self.BATCH_ROWS
        )
        self.n_batches = 0
        self.runs = 0
        seed = self.stream.seed_batch(gen.now_ms())
        pq.write_table(seed, os.path.join(self.land_dir, "b00000.parquet"))
        gen.wait_past(int(seed["ingest_ms"].to_numpy().max()))
        self._run(self.stream.seed_rows)

    def _run(self, landed: int):
        res = runner.run_pipeline(self.spark, self.cfg)
        self.runs += 1
        expect(res.status == runlog.STATUS_SUCCESS, f"run status {res.status}")
        expect(
            res.records_processed == landed,
            f"run extracted {res.records_processed} rows, {landed} landed",
        )
        return res

    def warm_up(self) -> None:
        self.op(-1, -1)

    def op(self, slot: int, key: int) -> tuple[str, int]:
        ids, vers = self.stream.next_batch()
        self.n_batches += 1
        path = os.path.join(self.land_dir, f"b{self.n_batches:05d}.parquet")
        size = self.stream.land(path, ids, vers)
        with self.tr.span("op.etl_run", input_bytes=size) as rec:
            res = self._run(len(ids))
            if rec is not None:
                rec["attrs"].update(rows_landed=len(ids), rows_extracted=res.records_processed)
        return "run", len(ids)

    def check(self) -> None:
        con = duck()
        cols = ", ".join(KEYED_COLS)
        con.execute(
            f"""CREATE VIEW expected AS SELECT {cols} FROM (
                  SELECT *, row_number() OVER (PARTITION BY id ORDER BY version DESC) AS rn
                  FROM read_parquet('{self.land_dir}/*.parquet')) WHERE rn = 1"""
        )
        con.execute(
            f"CREATE VIEW target AS SELECT {cols} FROM read_parquet('{self.target}/*.parquet')"
        )
        n_exp, n_tgt, n_ids = con.execute(
            "SELECT (SELECT count(*) FROM expected), (SELECT count(*) FROM target),"
            " (SELECT count(DISTINCT id) FROM target)"
        ).fetchone()
        diff = con.execute(
            "SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM target)),"
            " (SELECT count(*) FROM (SELECT * FROM target EXCEPT ALL SELECT * FROM expected))"
        ).fetchone()
        expect(n_exp == n_tgt == n_ids, f"target rows {n_tgt} (distinct {n_ids}), expected {n_exp}")
        expect(diff == (0, 0), f"target differs from latest-per-key oracle: {diff}")
        runs, ok, processed = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE status = 'SUCCESS'), sum(records_processed)"
            f" FROM read_parquet('{self.log}/*.parquet')"
        ).fetchone()
        expect(runs == ok == self.runs, f"audit log has {runs} rows, {ok} SUCCESS, {self.runs} runs")
        expect(
            processed == self.stream.rows_landed,
            f"records_processed sums to {processed}, {self.stream.rows_landed} rows landed",
        )
        self.live_rows = n_tgt
        self.space_amp = dir_bytes(self.target) / compact_bytes(
            con, "SELECT * FROM target", os.path.join(self.dir, "compact.parquet")
        )
        con.close()

    def report(self) -> dict:
        return {
            "etl.space_amp": self.space_amp,
            "etl.table_rows": self.live_rows,
            "etl.table_disk_bytes": dir_bytes(self.target),
            "etl.runs": self.runs,
        }


# --------------------------------------------------------------------------
# lake_query
# --------------------------------------------------------------------------

#: One cycle of the closed-loop mix: 3 point lookups, 3 incremental
#: pulls, each analytic scan once and one curation pass.
LAKE_SCHEDULE = (
    "lookup",
    "pull",
    *(f"scan:{q}" for q in SCAN_QUERIES),
    "lookup",
    "pull",
    "pass",
    "lookup",
    "pull",
)


class LakeQuery:
    """The read side of the lake: point lookups and incremental pulls on
    a keyed table built by the same pipeline (so readers see the file
    layout the writer leaves), registered analytic scans over
    star-schema/events fixtures, and curation passes over a document
    and embedding corpus. The write path is idle after set-up."""

    name = "lake_query"
    LATENCY_MIX = {k: LAKE_SCHEDULE.count(k) for k in LAKE_SCHEDULE if k != "pass"}
    THROUGHPUT_KINDS = ("pass",)
    MIN_OPS = len(LAKE_SCHEDULE)  # whole cycles only
    PREFIX = "lake"
    ALIASES = {
        "read_p50_s": "op_p50_s",
        "curation_docs_per_s": "items_per_s",
        "read_cpu_s": "op_cpu_s",
        "curation_docs_per_cpu_s": "items_per_cpu_s",
    }
    N_KEYS = 100_000  # keyed table rows (ids are even; odd ids miss)
    SF = 0.02  # fixtures: lineitem 120k rows, events 20k rows
    LOOKUP_KEYS = 4
    MISS_SHARE = 0.25

    def __init__(self, spark, tracer: Tracer, seed: int, work: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.dir = os.path.join(work, "lake")
        self.curation = Curation(spark, tracer, seed, work)

    def setup(self) -> None:
        self.curation.setup()
        rng = np.random.default_rng(self.seed)
        self.sf_dir = os.path.join(self.dir, "fixtures")
        self.fixture_rows = gen.write_fixtures(rng, self.sf_dir, self.SF)
        land = os.path.join(self.dir, "land")
        os.makedirs(land)
        self.target = os.path.join(self.dir, "table")
        cfg = keyed_config("lake", land, self.target, os.path.join(self.dir, "log"))
        # a full load, then one incremental upsert: readers see the file
        # layout the writer leaves after a keyed merge
        stream = gen.EtlStream(rng, self.N_KEYS, self.N_KEYS // 50, key_stride=2)
        seed = stream.seed_batch(gen.now_ms())
        pq.write_table(seed, os.path.join(land, "b00000.parquet"))
        gen.wait_past(int(seed["ingest_ms"].to_numpy().max()))
        res = runner.run_pipeline(self.spark, cfg)
        expect(res.records_processed == self.N_KEYS, "lake table seed run")
        ids, vers = stream.next_batch()
        stream.land(os.path.join(land, "b00001.parquet"), ids, vers)
        res = runner.run_pipeline(self.spark, cfg)
        expect(res.records_processed == len(ids), "lake table upsert run")
        self.pull_cfg = keyed_config("lake_pull", self.target, self.target, "")
        snap = pq.read_table(self.target, columns=["id", "version", "ingest_ms"]).sort_by("id")
        self.snap_id = snap["id"].to_numpy()
        self.snap_version = snap["version"].to_numpy()
        self.snap_ingest = snap["ingest_ms"].to_numpy()
        con = duck()
        for t in self.fixture_rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        self.oracle_rows = {
            q: con.execute(f"SELECT count(*) FROM ({plans.ORACLES[q]})").fetchone()[0]
            for q in SCAN_QUERIES
        }
        con.close()

    def warm_up(self) -> None:
        """Every kind of operation once."""
        for slot in range(len(LAKE_SCHEDULE)):
            if LAKE_SCHEDULE[slot] not in LAKE_SCHEDULE[:slot]:
                self.op(slot, -1 - slot)

    def op(self, slot: int, key: int) -> tuple[str, int]:
        """Operation ``slot`` of the schedule with parameters drawn from
        ``key`` (distinct per operation, negative in the warm-up)."""
        kind = LAKE_SCHEDULE[slot % len(LAKE_SCHEDULE)]
        # a stream per operation, apart from set-up's; warm-up keys >= -12
        rng = np.random.default_rng([self.seed, key + len(LAKE_SCHEDULE)])
        if kind == "lookup":
            self._lookup(rng)
        elif kind == "pull":
            self._pull(rng)
        elif kind == "pass":
            self.curation.run_pass()
            return kind, self.curation.N_DOCS
        else:
            self._scan(kind.split(":", 1)[1])
        return kind, 1

    def _lookup(self, rng: np.random.Generator) -> None:
        from pyspark.sql import functions as F

        hits = self.snap_id[rng.integers(0, len(self.snap_id), self.LOOKUP_KEYS)]
        misses = 2 * rng.integers(0, self.N_KEYS, self.LOOKUP_KEYS) + 1
        keys = np.where(rng.random(self.LOOKUP_KEYS) < self.MISS_SHARE, misses, hits)
        values = sorted({int(v) for v in keys})
        with self.tr.span("op.lookup") as rec:
            df = merge.read_point_lookup(self.spark, self.target, "id", values)
            if rec is None:
                rows = df.select("id", "version").collect()
            else:
                with self.tr.span("merge.lookup"):
                    rows = df.select("id", "version", F.input_file_name().alias("f")).collect()
                rec["attrs"]["hit_files"] = len({r["f"] for r in rows})
        pos = np.searchsorted(self.snap_id, values)
        want = {
            (v, int(self.snap_version[p]))
            for v, p in zip(values, pos)
            if p < len(self.snap_id) and self.snap_id[p] == v
        }
        got = {(r["id"], r["version"]) for r in rows}
        expect(got == want and len(rows) == len(want), f"lookup {values}: {got} != {want}")

    def _pull(self, rng: np.random.Generator) -> None:
        from pyspark.sql import functions as F

        # below the 98th percentile: the last 2 % are the upsert batch,
        # which shares one watermark
        wm = int(np.quantile(self.snap_ingest, rng.uniform(0.90, 0.97)))
        with self.tr.span("op.pull") as rec:
            df = runner.extract_incremental(self.pull_cfg, self.spark, wm)
            with self.tr.span("runner.extract"):
                n, sid, sver = df.agg(
                    F.count(F.lit(1)), F.sum("id"), F.sum("version")
                ).first()
            sel = self.snap_ingest > wm
            if rec is not None:
                rec["attrs"].update(rows_extracted=n, rows_landed=int(sel.sum()))
        want = (int(sel.sum()), int(self.snap_id[sel].sum()), int(self.snap_version[sel].sum()))
        got = (n, sid or 0, sver or 0)  # SQL sums of no rows are NULL
        expect(got == want, f"pull after {wm}: {got} != {want}")

    def _scan(self, q: str) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        with self.tr.span("op.scan"):
            df = plans.QUERIES[q](self.spark, self.sf_dir)
            with self.tr.span(f"plans.{q}"):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
        n = obs.get["n"]
        expect(n == self.oracle_rows[q], f"{q}: {n} rows, oracle {self.oracle_rows[q]}")

    def check(self) -> None:
        self.curation.check()
        # The workload only reads; the table must be exactly as seeded.
        snap = pq.read_table(self.target, columns=["id", "version"]).sort_by("id")
        expect(
            np.array_equal(snap["id"].to_numpy(), self.snap_id)
            and np.array_equal(snap["version"].to_numpy(), self.snap_version),
            "keyed table changed under a read-only workload",
        )
        con = duck()
        self.space_amp = dir_bytes(self.target) / compact_bytes(
            con,
            f"SELECT * FROM read_parquet('{self.target}/*.parquet')",
            os.path.join(self.dir, "compact.parquet"),
        )
        con.close()

    def report(self) -> dict:
        files = parquet_files(listing(self.target))
        return {
            "lake.table_rows": int(len(self.snap_id)),
            "lake.table_files": len(files),
            "lake.table_disk_bytes": dir_bytes(self.target),
            "lake.space_amp": self.space_amp,
            "lake.fixture_rows": self.fixture_rows,
            "lake.fixture_disk_bytes": dir_bytes(self.sf_dir),
            **self.curation.report(),
        }


# --------------------------------------------------------------------------
# curation pass (part of lake_query)
# --------------------------------------------------------------------------


def shingle_set(s: str, k: int = 5) -> set[str]:
    """Word ``k``-shingles of a generated document, which is already
    lower-case, single-spaced, punctuation-free and longer than ``k``
    words, so they equal ``functions.text.shingles``."""
    toks = s.split(" ")
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


#: The stages of one curation pass, in order; ``cc`` consumes the pairs
#: ``lsh`` found in the same pass.
CURATION_STAGES = ("quality", "langid", "lsh", "cc", "ivf", "exact")


class Curation:
    """Curation passes over a seeded corpus: quality and language scoring
    (Arrow Python workers), MinHash near-dup pairs → connected
    components, IVF and exact top-k similarity. Touches neither
    ``merge`` nor ``runlog``."""

    N_DOCS = 1_000
    N_VECS = 1_000
    N_QUERIES = 8
    K = 10
    N_FILES = 8  # input files per table
    DUP_THRESHOLD = 0.5  # minhash_dedup_pairs default

    def __init__(self, spark, tracer: Tracer, seed: int, work: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.dir = os.path.join(work, "curation")
        self.dup_recall: set[float] = set()
        self.knn_recall: set[float] = set()
        self.stage_s: dict[str, list[float]] = {s: [] for s in CURATION_STAGES}

    def setup(self) -> None:
        os.makedirs(self.dir)
        rng = np.random.default_rng(self.seed)
        docs, self.planted = gen.corpus(rng, self.N_DOCS)
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        vecs, queries = gen.embeddings(rng, self.N_VECS, self.N_QUERIES)
        docs_path = os.path.join(self.dir, "documents")
        vecs_path = os.path.join(self.dir, "embeddings")
        queries_path = os.path.join(self.dir, "queries.parquet")
        gen.write_parts(docs, docs_path, self.N_FILES)
        gen.write_parts(gen.vectors_table("vec_id", vecs), vecs_path, self.N_FILES)
        pq.write_table(gen.vectors_table("q_id", queries), queries_path)
        self.docs = self.spark.read.parquet(docs_path)
        self.vecs = self.spark.read.parquet(vecs_path)
        self.queries = self.spark.read.parquet(queries_path)
        # numpy brute-force reference (float64, like the engine's cosine)
        v = vecs.astype(np.float64)
        q = queries.astype(np.float64)
        self.cos = (q @ v.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(v, axis=1))
        self.exact_top = np.argsort(-self.cos, axis=1, kind="stable")[:, : self.K]

    def run_pass(self) -> None:
        """One curation pass over the whole corpus."""
        with self.tr.span("op.pass") as rec:
            for stage in CURATION_STAGES:
                t = time.perf_counter()
                getattr(self, f"_{stage}")(rec)
                self.stage_s[stage].append(time.perf_counter() - t)

    def _quality(self, rec) -> None:
        from pyspark.sql import functions as F

        with self.tr.span("text.quality"):
            n, lo, hi = (
                self.docs.select(text.quality_score_arrow("text").alias("q"))
                .agg(F.count("q"), F.min("q"), F.max("q"))
                .first()
            )
        expect(n == self.N_DOCS and 0.0 <= lo <= hi <= 1.0, f"quality scores {n} {lo} {hi}")

    def _langid(self, rec) -> None:
        with self.tr.span("text.langid"):
            langs = self.docs.groupBy(text.language_id_arrow("text").alias("lang")).count().collect()
        expect(
            sum(r["count"] for r in langs) == self.N_DOCS
            and {r["lang"] for r in langs} <= {"en", "es", "fr", "de", "und"},
            f"language ids {langs}",
        )

    def _lsh(self, rec) -> None:
        with self.tr.span("dedup.lsh"):
            pairs_df = dedup.minhash_dedup_pairs(self.docs, "doc_id", "text").localCheckpoint(
                eager=True
            )
            pairs = [(r[0], r[1], r[2]) for r in pairs_df.collect()]
        if rec is not None:
            rec["attrs"]["verified_pairs"] = len(pairs)
        # every verified pair really is a near-duplicate
        for a, b, jac in pairs:
            sa, sb = shingle_set(self.texts[a]), shingle_set(self.texts[b])
            exact_j = len(sa & sb) / len(sa | sb)
            expect(
                a < b and jac >= self.DUP_THRESHOLD and abs(exact_j - jac) < 1e-4,
                f"pair ({a}, {b}) jaccard {jac} vs {exact_j}",
            )
        self.pairs_df, self.pairs = pairs_df, pairs

    def _cc(self, rec) -> None:
        from pyspark.sql import functions as F

        with self.tr.span("dedup.cc"):
            moved = (
                dedup.connected_components(
                    self.docs.select("doc_id"), self.pairs_df.select("id_a", "id_b"), id_col="doc_id"
                )
                .filter(F.col("doc_id") != F.col("canonical_id"))
                .collect()
            )
        # components equal a union-find over the same pairs
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b, _ in self.pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {n: find(n) for n in parent}
        got = {r["doc_id"]: r["canonical_id"] for r in moved}
        expect(got == want, f"connected components: {len(got)} moved, {len(want)} expected")
        found = sum(got.get(a, a) == got.get(b, b) for a, b in self.planted)
        self._same(self.dup_recall, found / len(self.planted), "dup_recall")

    def _ivf(self, rec) -> None:
        with self.tr.span("similarity.ivf"):
            ann = similarity.ivf_ann(
                self.vecs, self.queries, corpus_id="vec_id", query_id="q_id", k=self.K
            ).select("qid", "cid").collect()
        found = {(r["qid"], r["cid"]) for r in ann}
        hits = sum((q, int(c)) in found for q in range(self.N_QUERIES) for c in self.exact_top[q])
        self._same(self.knn_recall, hits / (self.N_QUERIES * self.K), "knn_recall_at_10")

    def _exact(self, rec) -> None:
        with self.tr.span("similarity.exact"):
            exact = similarity.topk_cosine(
                self.vecs, self.queries, corpus_id="vec_id", query_id="q_id", k=self.K
            ).select("qid", "cid", "cosine").collect()
        # equals numpy brute force (ties within the 4-decimal rounding)
        expect(len(exact) == self.N_QUERIES * self.K, f"topk rows {len(exact)}")
        for r in exact:
            c = self.cos[r["qid"], r["cid"]]
            kth = self.cos[r["qid"], self.exact_top[r["qid"], -1]]
            expect(abs(c - r["cosine"]) < 1e-4 and c >= kth - 1e-4, f"topk row {r}")

    @staticmethod
    def _same(seen: set[float], value: float, what: str) -> None:
        seen.add(value)
        expect(len(seen) == 1, f"{what} differs between passes: {seen}")

    def check(self) -> None:
        expect(len(self.dup_recall) == len(self.knn_recall) == 1, "no full curation pass")

    def report(self) -> dict:
        return {
            **{
                f"curation.{s}_p50_s": statistics.median(t[1:]) if len(t) > 1 else None
                for s, t in self.stage_s.items()
            },
            "curation.dup_recall": next(iter(self.dup_recall)),
            "curation.knn_recall_at_10": next(iter(self.knn_recall)),
            "curation.docs": self.N_DOCS,
            "curation.planted_pairs": len(self.planted),
            "curation.vectors": self.N_VECS,
            "curation.queries": self.N_QUERIES,
            "curation.corpus_disk_bytes": dir_bytes(self.dir),
        }


WORKLOADS = {w.name: w for w in (EtlIncremental, LakeQuery)}
