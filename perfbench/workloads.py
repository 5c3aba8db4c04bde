"""The benchmark's workloads.

Each workload generates its inputs from the seed (:meth:`generate`,
before the engine starts), warms the engine up with untimed operations
(:meth:`setup`), runs one timed operation per :meth:`op` call, and
checks the engine's outputs outside the timed window (:meth:`check`).
Every call into the engine goes through its public functions
(``pipelines``, ``pipelines.run_pipeline`` → ``sinks.merge`` and the
``queries`` registry), wrapped in tracer spans.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys

import numpy as np

import checks
import gen
from tracing import listing, rewrite_stats

DAY = dt.timedelta(days=1)



def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


class PosSync:
    """The reference's hourly cron traffic at one tick per fixture day.

    The seed moves the tick anchor (the first timed tick's day) over
    days 151-170 and draws the fixture's values.  Every lookback window
    of every seed then straddles the same month boundary (day 151, June
    1st), so each tick rewrites two monthly fact partitions.  The warm-up
    operation loads every day before the anchor as history; each timed
    tick then re-scans a 24-day lookback ending one day later than the
    previous tick through all six pipelines, so a row is re-delivered
    about 24 times.  Timed operation 2 replays tick 1 (a cron run that
    fired twice) and must leave every table unchanged."""

    name = "pos_sync"
    #: seconds one timed operation takes on a 4-core box
    NOMINAL_OP_S = 10.0
    LOOKBACK_DAYS = 24
    #: the timed operation that replays its predecessor
    REPLAY_OP = 2
    N_DAYS = 200

    def __init__(self, work_dir: str, seed: int):
        self.data = os.path.join(work_dir, "data")
        self.wh = os.path.join(work_dir, "warehouse")
        self.seed = seed
        self.anchor = 151 + seed % 20
        self.windows: list[tuple[dt.datetime, dt.datetime]] = []
        self.tied_keys: dict[str, int] = {}
        self.problems: list[str] = []
        #: per traced operation: table → {batch, rejects} DataFrames
        self._traced: dict[int, dict] = {}

    # -- inputs ----------------------------------------------------------
    def generate(self) -> None:
        days = gen.pos_fixture(self.data, self.seed, self.N_DAYS)
        self._order_day = np.sort(days["order_day"])
        self._line_order_day = np.sort(days["line_order_day"])
        self._ship_day = np.sort(days["ship_day"])

    def _window(self, k: int) -> tuple[int, int]:
        """Day range [begin, end) of operation k (0 = history load)."""
        if k == 0:
            return 0, self.anchor
        end = self.anchor + k - (k >= self.REPLAY_OP)
        return end - self.LOOKBACK_DAYS, end

    def rows_in(self, k: int) -> int:
        """Source rows operation k takes in: the window's payments, the
        line items of those orders, the inventory counts calculated in
        the window, and the three full dimension pulls."""
        b, e = self._window(k)

        def n(days: np.ndarray) -> int:
            return int(np.searchsorted(days, e) - np.searchsorted(days, b))

        return (
            n(self._order_day) + n(self._line_order_day) + n(self._ship_day)
            + gen.N_PARTS + gen.N_NATIONS + gen.N_CUSTOMERS
        )

    # -- engine ----------------------------------------------------------
    def start(self, spark, tracer) -> None:
        from square_etl_spark import pipelines as P
        from square_etl_spark.io import windowed_scan

        self.spark, self.tracer, self.P, self.windowed_scan = spark, tracer, P, windowed_scan

    def _build(self, table: str, begin: dt.datetime, end: dt.datetime):
        P, spark, src = self.P, self.spark, self.data
        if table == "pos_payments":
            pay = self.windowed_scan(P.payments_source(spark, src), "created_at", begin, end)
            return P.payments_pipeline(pay, with_part_date=True)
        if table == "pos_order_items":
            pay = self.windowed_scan(P.payments_source(spark, src), "created_at", begin, end)
            return P.order_items_pipeline(pay, P.order_items_source(spark, src), with_part_date=True)
        if table == "pos_inventory":
            inv = self.windowed_scan(P.inventory_source(spark, src), "calculated_at", begin, end)
            return P.inventory_pipeline(inv)
        if table == "pos_catalog":
            return P.catalog_pipeline(*P.catalog_source(spark, src))
        if table == "pos_categories":
            return P.categories_pipeline(P.categories_source(spark, src))
        return P.locations_pipeline(P.locations_source(spark, src))

    def _tick(self, k: int) -> None:
        b, e = self._window(k)
        begin, end = gen.EPOCH + b * DAY, gen.EPOCH + e * DAY
        self.windows.append((begin, end))
        tr = self.tracer
        traced = self._traced.setdefault(k, {}) if tr.enabled else None
        for table in checks.POS_TABLES:
            with tr.span(f"pipelines.build.{table}", jobs=True):
                rows, rejects = self._build(table, begin, end)
            target = os.path.join(self.wh, table)
            with tr.bookkeeping():
                before = listing(target) if tr.enabled else None
            with tr.span(f"merge.{table}", jobs=True) as rec:
                n = self.P.run_pipeline(self.spark, table, rows, target)
            if tr.enabled:
                with tr.bookkeeping():
                    parts, nbytes = rewrite_stats(before, listing(target))
                rec.update(rows_written=n, partitions_rewritten=parts, bytes_written=nbytes)
                traced[table] = {"rows": rows, "rejects": rejects, "span": rec}

    def setup(self) -> None:
        self._tick(0)

    def op(self, k: int) -> None:
        self._tick(k)

    def before_op(self, k: int) -> None:
        if k == self.REPLAY_OP:
            self._snapshot = checks.snapshot_pos(self.wh)

    def after_op(self, k: int) -> None:
        """Outside the timed window: finish the replay check, and in
        traced runs count each table's batch and quarantined rows."""
        if k == self.REPLAY_OP:
            self.problems += checks.unchanged_since(self._snapshot, self.wh)
            self._snapshot.close()
        for rec in self._traced.pop(k, {}).values():
            rec["span"]["batch_rows"] = rec["rows"].count()
            rec["span"]["rows_quarantined"] = rec["rejects"].count()

    # -- correctness -----------------------------------------------------
    def check(self, corrupt: bool = False) -> list[tuple[None, str]]:
        """The replay's result, then every table against the registry
        oracles over the applied windows.  Any problem fails the whole
        run (op None): the warehouse is the output of all operations."""
        from square_etl_spark import queries as Q
        from square_etl_spark.schemas import WAREHOUSE_TABLES

        if corrupt:
            drop_one_row(os.path.join(self.wh, "pos_payments"))
        keys = {t: WAREHOUSE_TABLES[t][1] for t in checks.POS_TABLES}
        more, self.tied_keys = checks.check_pos(
            self.data, self.wh, self.windows, Q.oracle_sql(), keys
        )
        print(f"pos_inventory keys with a tied newest row: {self.tied_keys['pos_inventory']}",
              file=sys.stderr)
        return [(None, p) for p in self.problems + more]

    def layer_metrics(self, ops: list[int]) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        out: dict[str, tuple[float, str]] = {
            "merge.pos_inventory.tied_keys": (self.tied_keys.get("pos_inventory", 0), "count"),
        }
        per_op = [tr.op_spans(k) for k in ops]
        out["pipelines.build_s"] = (_median([
            sum(s["end"] - s["start"] for s in spans if s["name"].startswith("pipelines.build."))
            for spans in per_op
        ]), "s")
        out["pipelines.rows_in"] = (_median([self.rows_in(k) for k in ops]), "count")
        out["pipelines.rows_quarantined"] = (_median([
            sum(s.get("rows_quarantined", 0) for s in spans) for spans in per_op
        ]), "count")
        for table in checks.POS_TABLES:
            merges = [s for spans in per_op for s in spans if s["name"] == f"merge.{table}"]
            out[f"merge.{table}.s"] = (_median([s["end"] - s["start"] for s in merges]), "s")
            out[f"merge.{table}.jobs"] = (_median([s["jobs"] for s in merges]), "count")
            out[f"merge.{table}.rows_written"] = (_median([s["rows_written"] for s in merges]), "count")
            out[f"merge.{table}.write_amp"] = (_median([
                s["rows_written"] / s["batch_rows"] for s in merges if s["batch_rows"]
            ]), "ratio")
            out[f"merge.{table}.partitions_rewritten"] = (
                _median([s["partitions_rewritten"] for s in merges]), "count")
            out[f"merge.{table}.bytes_written"] = (_median([s["bytes_written"] for s in merges]), "bytes")
        return out


def drop_one_row(table_dir: str) -> None:
    """Rewrite one data file of a table without its first row."""
    import pyarrow.parquet as pq

    for root, _, files in os.walk(table_dir):
        for name in sorted(files):
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                t = pq.read_table(path)
                if t.num_rows:
                    pq.write_table(t.slice(1), path)
                    return


class CorpusCuration:
    """LLM-data curation: repeated corpus_clean_pipeline passes.

    The seed draws two document batches, each with 10% planted exact
    and 10% planted near duplicates and 5% low-quality noise.  Batch 0
    is the warm-up pass; every timed pass runs over batch 1."""

    name = "corpus_curation"
    NOMINAL_OP_S = 3.5
    N_DOCS = 2000

    def __init__(self, work_dir: str, seed: int):
        self.data = os.path.join(work_dir, "data")
        self.seed = seed
        #: timed pass → its output rows (lang, n_docs, total_tokens)
        self.outputs: dict[int, set[tuple]] = {}

    def _dir(self, batch: int) -> str:
        return os.path.join(self.data, f"batch{batch}")

    def generate(self) -> None:
        for b in (0, 1):
            gen.document_batch(self._dir(b), self.seed * 101 + b, self.N_DOCS)

    def rows_in(self, k: int) -> int:
        return self.N_DOCS

    def start(self, spark, tracer) -> None:
        from square_etl_spark import queries as Q

        self.spark, self.tracer = spark, tracer
        self.query = Q.queries()["corpus_clean_pipeline"]

    def _pass(self, batch: int) -> set[tuple]:
        with self.tracer.span("queries.corpus_clean_pipeline.build", jobs=True):
            df = self.query(self.spark, self._dir(batch))
        with self.tracer.span("queries.corpus_clean_pipeline.execute", jobs=True):
            rows = df.collect()
        return {(r["lang"], int(r["n_docs"]), int(r["total_tokens"])) for r in rows}

    def setup(self) -> None:
        self._pass(0)

    def op(self, k: int) -> None:
        self.outputs[k] = self._pass(1)

    def before_op(self, k: int) -> None:
        pass

    def after_op(self, k: int) -> None:
        pass

    def check(self, corrupt: bool = False) -> list[tuple[int, str]]:
        """Every timed pass's output must equal the registry oracle on
        batch 1; a pass that differs fails on its own."""
        from square_etl_spark import queries as Q

        expected = checks.corpus_expected(self._dir(1), Q.oracle_sql()["corpus_clean_pipeline"])
        problems = []
        for k, got in sorted(self.outputs.items()):
            if corrupt and k == max(self.outputs):
                got = set(sorted(got)[1:])
            if got != expected:
                problems.append((k, f"corpus pass {k}: output differs from the oracle"))
        return problems

    def near_dup_pairs(self) -> int:
        """Near-duplicate pairs the pipeline's prefix join finds among
        batch 1's exact-dedup survivors (traced runs only)."""
        from square_etl_spark import pipelines as P
        from square_etl_spark.io import load_table
        from square_etl_spark.operators.dedup import ngram_jaccard_prefix

        docs = load_table(self.spark, self._dir(1), "documents")
        survivors = P.clean_stage_relations(docs)[2]
        return ngram_jaccard_prefix(
            survivors, "doc_id", "text",
            n=P.CLEAN_NGRAM_N, threshold=P.CLEAN_JACCARD_THRESHOLD,
        ).count()

    def layer_metrics(self, ops: list[int]) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        out: dict[str, tuple[float, str]] = {}
        for phase in ("build", "execute"):
            spans = [s for k in ops for s in tr.op_spans(k)
                     if s["name"] == f"queries.corpus_clean_pipeline.{phase}"]
            out[f"queries.corpus_clean_pipeline.{phase}_s"] = (
                _median([s["end"] - s["start"] for s in spans]), "s")
            out[f"queries.corpus_clean_pipeline.{phase}_jobs"] = (
                _median([s["jobs"] for s in spans]), "count")
        out["dedup.near_dup_pairs"] = (self.near_dup_pairs(), "count")
        out["dedup.kept_ratio"] = (_median([
            sum(n for _, n, _ in self.outputs[k]) / self.N_DOCS for k in ops
        ]), "ratio")
        return out


WORKLOADS = {w.name: w for w in (PosSync, CorpusCuration)}
