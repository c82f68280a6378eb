"""The closed-loop workloads. Each has

* ``generate()`` — untimed input generation (not part of set-up);
* ``prepare()`` — program-side set-up, timed as part of ``setup_s``;
* ``ops()`` — an iterator of ``(kind, items, callable, boundary)``
  operations, run one after another by a single client; ``boundary``
  marks the end of a unit (a whole cron cycle, a drain), and the timed
  region ends only between units;
* ``min_units`` — the whole units a run measures at least;
* ``check()`` — correctness after the timed region; returns failures
  as ``(op index, cause)``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

import pyarrow.parquet as pq

import gen
import model


def du(*paths: str) -> int:
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _parquet_rows(pattern: str, cols: list[str]) -> list[dict]:
    rows: list[dict] = []
    for path in sorted(glob.glob(pattern, recursive=True)):
        if os.path.basename(path).startswith(("_", ".")):
            continue
        rows.extend(pq.read_table(path, columns=cols).to_pylist())
    return rows


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str, trace=None):
        self.spark, self.seed, self.work, self.trace = spark, seed, work, trace
        self.input_bytes = 0
        self.inputs_sha256 = ""
        self.extra: dict = {}

    def stored_bytes(self) -> int:
        return 0

    def span(self, name: str, layer: str = "bench"):
        if self.trace is None:
            return contextlib.nullcontext()
        return self.trace.span(name, layer)


# ------------------------------------------------------------------ etl


class EtlCycles(Workload):
    """Six ``runner.fetch_job`` calls (one hour at the ``*/10`` cadence),
    then one ``runner.combine_load_job`` whose load upserts the combined
    CSV into a parquet target with ``operators.merge.upsert_merge``.
    Cycle 0 runs in set-up; the timed cycles start at cycle 1, which
    upserts onto cycle 0's target and drains a backlog."""

    name = "etl_cycles"
    min_units = 1
    SALT = "perfbench-salt"

    def generate(self) -> None:
        self.inputs_sha256 = gen.etl_inputs_sha256(self.seed)

    def _cfg(self, root: str):
        from reddit_apache_airflow_postgres_pipeline_spark.config import EngineConfig

        return EngineConfig(
            subreddit="ItalyTravel", gdpr_salt=self.SALT,
            data_dir=os.path.join(root, "inbox"),
            combine_dir=os.path.join(root, "combined"),
            loaded_dir=os.path.join(root, "loaded"),
            csv_glob_prefix="italytravel_",
        )

    def _empty_target(self, path: str) -> None:
        from pyspark.sql import types as T

        schema = T.StructType([T.StructField(c, T.StringType()) for c in model.DB_COLUMNS])
        self.spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)

    def _loader(self, root: str, state: dict):
        from reddit_apache_airflow_postgres_pipeline_spark.operators.merge import upsert_merge
        from reddit_apache_airflow_postgres_pipeline_spark.schemas import (
            FETCH_CSV,
            UPSERT_UPDATE_COLUMNS,
        )

        def load(path: str) -> None:
            with self.span("bench.load"):
                # multiLine: combined titles are not re-sanitized and may
                # hold quoted newlines
                stage = (self.spark.read.option("header", True).option("escape", '"')
                         .option("multiLine", True).schema(FETCH_CSV).csv(path))
                cur = os.path.join(root, f"target_v{state['v']}")
                nxt = os.path.join(root, f"target_v{state['v'] + 1}")
                target = self.spark.read.parquet(cur)
                upsert_merge(target, stage, "thing_key", UPSERT_UPDATE_COLUMNS).write.mode(
                    "overwrite").parquet(nxt)
                state["v"] += 1  # earlier versions stay for check()

        return load

    def _land(self, cfg, files: list[tuple[str, bytes]]) -> dict:
        os.makedirs(cfg.data_dir, exist_ok=True)
        out = {}
        for name, data in files:
            with open(os.path.join(cfg.data_dir, name), "wb") as fh:
                fh.write(data)
            self.input_bytes += len(data)
            out[name] = model.read_csv_bytes(data)
        return out

    def prepare(self) -> None:
        """Run cron cycle 0 untimed: the warm-up, and the target the
        timed cycles upsert into. Its results are checked through the
        targets of the timed combines, which hold them."""
        self._ops = self._cycles()
        for _kind, _items, fn, boundary in self._ops:
            fn()
            if boundary:
                break

    def ops(self):
        return self._ops

    def _cycles(self):
        """Operations of cycles 0, 1, ...; cycle 0's are numbered from
        -(FETCHES_PER_CYCLE + 1), so the timed ones count from 0 as the
        runner numbers them."""
        from reddit_apache_airflow_postgres_pipeline_spark import runner

        root = os.path.join(self.work, "etl")
        self.root = root
        cfg = self._cfg(root)
        self.data_dir, self.loaded_dir = cfg.data_dir, cfg.loaded_dir
        self.state = {"v": 0}
        self._empty_target(os.path.join(root, "target_v0"))
        load = self._loader(root, self.state)
        self.fetches: dict[int, tuple[str, list[dict]]] = {}  # op -> (file, fetch rows)
        self.cycle_files: list[tuple[int, dict]] = []  # (combine op, inbox files)
        self.versions: dict[int, int] = {}  # combine op -> target version it wrote
        self.rows_scanned = self.rows_kept = 0
        op = -(gen.FETCHES_PER_CYCLE + 1)
        cycle = 0
        while True:
            files: dict[str, list[dict] | None] = {}
            for f in range(gen.FETCHES_PER_CYCLE):
                rows = gen.listing_rows(self.seed, cycle, f)
                ts = gen.cycle_run_ts(cycle, f)
                name = f"italytravel_{ts}.csv"
                files[name] = [model.fetch_row(r, self.SALT, cfg.subreddit) for r in rows]
                self.fetches[op] = (name, files[name])
                self.input_bytes += len(json.dumps(rows))
                yield "fetch", len(rows), (
                    lambda rows=rows, ts=ts: runner.fetch_job(self.spark, cfg, ts, rows=rows)), False
                op += 1
            files.update(self._land(cfg, gen.side_files(self.seed, cycle)))
            self.cycle_files.append((op, files))
            ts = gen.cycle_run_ts(cycle, 5) + "c"

            def combine(ts=ts, op=op):
                res = runner.combine_load_job(self.spark, cfg, ts, load=load)
                self.versions[op] = self.state["v"]
                self.rows_scanned += res.rows_scanned
                self.rows_kept += res.rows
                return res

            yield "combine", 0, combine, True
            op += 1
            cycle += 1

    def check(self, done_ops: set[int]) -> list[tuple[int, str]]:
        """Each fetch's CSV against the model's fetch transform, and the
        target each combine + load wrote against the model's target after
        that combine; one failure per operation and kind of difference."""
        fails: list[tuple[int, str]] = []
        for op, (name, want) in self.fetches.items():
            if op not in done_ops:
                continue
            path = os.path.join(self.loaded_dir, name)  # archived by its combine
            if not os.path.exists(path):
                path = os.path.join(self.data_dir, name)
            with open(path, "rb") as fh:
                got = model.read_csv_bytes(fh.read()) or []
            fails += [(op, f"fetch CSV {name}: {d}") for d in
                      model.diff_tables({r["id"]: r for r in want}, {r["id"]: r for r in got})]
        ref = model.Reference(self.SALT, "ItalyTravel")
        for op, files in self.cycle_files:
            if op < 0:  # cycle 0, run in set-up
                ref.load(ref.combine(files))
                continue
            if op not in done_ops:
                continue
            ref.load(ref.combine(files))
            version = os.path.join(self.root, f"target_v{self.versions[op]}")
            got = {r["thing_key"]: r for r in
                   _parquet_rows(os.path.join(version, "*.parquet"), model.DB_COLUMNS)}
            fails += [(op, f"target after combine: {d}") for d in model.diff_tables(ref.target, got)]
        self.extra = {"target_rows": len(ref.target), "cycles": len(self.versions),
                      "dedup_keep_ratio": self.rows_kept / max(self.rows_scanned, 1),
                      "known_defects": self.known_defects()}
        return fails

    def known_defects(self) -> dict:
        """Probe the known defect the inputs steer around: the CSV sink
        trims whitespace at field ends (Spark's CSV writer default) where
        the reference's csv module keeps it, so a padded gen-1 title
        reaches the target trimmed. True while the defect stands."""
        from reddit_apache_airflow_postgres_pipeline_spark.sinks.csv import write_atomic_csv

        padded = "  padded title  "
        path = write_atomic_csv(self.spark.createDataFrame([(padded,)], "title string"),
                                os.path.join(self.work, "probe", "trim.csv"))
        with open(path, "rb") as fh:
            got = (model.read_csv_bytes(fh.read()) or [{}])[0].get("title")
        return {"sinks.csv.write_atomic_csv trims field-end whitespace": got != padded}

    def stored_bytes(self) -> int:
        """The live target version and the combined CSVs."""
        return du(os.path.join(self.root, f"target_v{self.state['v']}"),
                  os.path.join(self.root, "combined"))


# ------------------------------------------------------------------ ingest


class IngestDrain(Workload):
    """Each operation lands ``gen.FILES_PER_DRAIN`` inbox parquet files
    (mtimes in landing order) and makes one
    ``ingest_pipeline.run_full_ingest_available_now(..., index_path=…)``
    call: drift → MinHash → span → CMS/HLL → index append."""

    name = "ingest_drain"
    min_units = 1

    def generate(self) -> None:
        snap = gen.documents_table(self.seed)
        self.snap_dir = os.path.join(self.work, "snapshot")
        os.makedirs(self.snap_dir, exist_ok=True)
        pq.write_table(snap, os.path.join(self.snap_dir, "documents.parquet"))
        texts = snap.column("text").to_pylist()
        self.lengths = [len(t.split()) for t in texts]
        self.vocab = sorted({w for t in texts for w in t.split()})
        self.inputs_sha256 = gen.sha256_of(
            [f["rows"] for d in range(3) for f in gen.ingest_files(
                self.seed, d, self.lengths, self.vocab, [(1, "x y z")])])

    def prepare(self) -> None:
        """Freeze the drift reference and train the IVFPQ text index on
        the ``documents`` snapshot. No warm-up drain: a cron-driven
        AvailableNow drain starts in a fresh process, so the timed drain
        is the session's first and pays its stages' query start-up and
        code generation."""
        from reddit_apache_airflow_postgres_pipeline_spark.sinks import text_index
        from reddit_apache_airflow_postgres_pipeline_spark.sources.tables import load_table
        from reddit_apache_airflow_postgres_pipeline_spark.streaming import drift_gate

        snap = load_table(self.spark, self.snap_dir, "documents").select("doc_id", "text")
        self.ref = os.path.join(self.work, "ref")
        self.index = os.path.join(self.work, "index")
        drift_gate.write_reference(snap, self.ref)
        text_index.write_text_index(snap, self.index, kind="ivfpq")

    def ops(self):
        from reddit_apache_airflow_postgres_pipeline_spark.streaming import ingest_pipeline

        self.inbox = os.path.join(self.work, "inbox")
        self.chain = os.path.join(self.work, "chain")
        os.makedirs(self.inbox, exist_ok=True)
        self.landed: list[tuple[int, dict]] = []
        self.index_bytes0 = du(self.index)
        earlier: list[tuple[int, str]] = []
        t_land = time.time() - 3600
        drain = 0
        while True:
            specs = gen.ingest_files(self.seed, drain, self.lengths, self.vocab, earlier)

            def op(specs=specs, t0=t_land):
                for k, spec in enumerate(specs):
                    self.input_bytes += gen.write_ingest_file(
                        spec, os.path.join(self.inbox, spec["name"]), t0 + k)
                ingest_pipeline.run_full_ingest_available_now(
                    self.spark, self.inbox, gen.INGEST_SCHEMA, self.chain, self.ref,
                    index_path=self.index)

            for spec in specs:
                self.landed.append((drain, spec))
                if spec["kind"] == "normal":
                    earlier.extend(r for r in spec["rows"][5:15] if r[0] not in spec["planted"])
            yield "drain", sum(len(s["rows"]) for s in specs), op, True
            t_land += 10
            drain += 1

    def check(self, done_ops: set[int]) -> list[tuple[int, str]]:
        """Drifted files quarantined whole; exact re-deliveries of
        admitted docs rejected; CMS row-0 total = token count of the
        spanned corpus; every spanned doc with tokens live in the index."""
        from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index
        from reddit_apache_airflow_postgres_pipeline_spark.streaming import cms_stream

        if not done_ops:
            return []
        p = self.chain
        ids = lambda pat: {r["doc_id"] for r in _parquet_rows(pat, ["doc_id"])}  # noqa: E731
        admitted = ids(os.path.join(p, "drift", "admitted", "batch_id=*", "*.parquet"))
        quarantined = ids(os.path.join(p, "drift", "quarantined", "batch_id=*", "*.parquet"))
        accepted = ids(os.path.join(p, "accepted", "batch_id=*", "*.parquet"))
        spanned = _parquet_rows(os.path.join(p, "spanned", "batch_id=*", "*.parquet"),
                                ["doc_id", "text_clean"])
        fails: list[tuple[int, str]] = []
        landed = 0
        for drain, spec in self.landed:
            if drain not in done_ops:
                continue
            landed += len(spec["rows"])
            file_ids = {r[0] for r in spec["rows"]}
            if spec["kind"] == "drifted" and not file_ids <= quarantined:
                fails.append((drain, f"{spec['name']}: drifted file not quarantined whole"))
            for doc, (kind, of) in spec["planted"].items():
                if kind == "exact" and of in accepted and doc in accepted:
                    fails.append((drain, f"{spec['name']}: re-delivery {doc} of {of} admitted"))
        n_tokens = sum(len((r["text_clean"] or "").split()) for r in spanned)
        if os.path.isdir(os.path.join(p, "cms")):
            cms = cms_stream.read_sketch(self.spark, os.path.join(p, "cms"))
            row0 = cms.filter("row = 0").agg({"c": "sum"}).collect()[0][0] or 0
            if row0 != n_tokens:
                fails.append((max(done_ops), f"CMS row-0 total {row0} != {n_tokens} spanned tokens"))
        live = {r[0] for r in vector_index.read_codes(self.spark, self.index)
                .select("neighbor_id").distinct().collect()}
        missing = [r["doc_id"] for r in spanned
                   if (r["text_clean"] or "").split() and r["doc_id"] not in live]
        if missing:
            fails.append((max(done_ops), f"{len(missing)} spanned docs not live in the index"))
        self.extra = {
            "docs_landed": landed,
            "admit_ratio": len(admitted) / max(landed, 1),
            "quarantine_ratio": len(quarantined) / max(landed, 1),
            "dup_reject_ratio": (len(admitted) - len(accepted)) / max(len(admitted), 1),
            "spanned_docs": len(spanned),
            "state_bytes": {k: du(os.path.join(p, k))
                            for k in ("dedup_state", "span_state", "cms", "hll")},
            "checkpoint_bytes": du(*glob.glob(os.path.join(p, "ckpt_*"))),
        }
        return fails

    def stored_bytes(self) -> int:
        return du(self.chain) + du(self.index) - self.index_bytes0


WORKLOADS = {w.name: w for w in (EtlCycles, IngestDrain)}
