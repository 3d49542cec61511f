"""The benchmark's workloads: what one op is, how it is timed and how its
output is checked.

A workload generates its inputs from the seed, yields the ops of each pass,
runs one op (the timed part) and checks its output (untimed).
``WARMUP_PASSES`` untimed passes come first: the JIT keeps speeding ops up
over the first few runs of each.
"""

from __future__ import annotations

import os
import random
import shutil

import duckdb

from . import gen


class CheckFailed(Exception):
    """An op's output disagrees with what the generator says it must be."""


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def _duck_scalar(sql: str):
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def checksum_frame(df):
    """One-row fold that forces every output column: row count plus the XOR
    of a per-row hash over all columns cast to string. Order-independent,
    so equal results give equal checksums whatever the partitioning."""
    from pyspark.sql import functions as F

    renamed = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    return renamed.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c).cast("string") for c in renamed.columns])).alias("h"),
    )


class Workload:
    # A run times as many whole passes as fit in --seconds at PASS_S (at
    # least one). PASS_S is a pass's wall time on a 4-vCPU host, so every
    # run of a workload times the same ops whatever the host's speed: ops
    # keep getting faster over their first runs in a JVM, and a median over
    # a count that varied with host speed would move with that count.
    PASS_S: float

    def prepare(self, op: str) -> None:
        """Harness work before ``op`` runs (files landing), outside its
        timing."""


# --- Sparkify ETL ----------------------------------------------------------------


class Etl(Workload):
    """The Sparkify ETL, batch and incremental, on one set of logs. A pass
    runs three ops: ``batch`` is one ``plans.sparkify.run_pipeline`` call
    (song + log JSON to five year-partitioned Parquet tables in a fresh
    directory); ``round0`` and ``round1`` are
    ``streaming.incremental.run_incremental_available_now`` drains after
    each half of the log files lands, merge-upserting into ``users`` and
    ``time`` of a fresh table, so the second round's merge rewrites what
    the first wrote."""

    name = "etl"
    WARMUP_PASSES = 1
    PASS_S = 9.5
    SIZE = dict(n_events=40_000, n_files=8, n_songs=3_000, n_users=600)
    FILES_PER_ROUND = 4

    def generate(self, work: str, seed: int) -> dict:
        self.work = work
        self.facts = gen.sparkify(os.path.join(work, "in"), seed, **self.SIZE)
        self.rounds = gen.sparkify_rounds(self.facts, self.FILES_PER_ROUND)
        self.n = 0
        return self.facts

    def passes(self, k: int) -> list[str]:
        return ["batch"] + [f"round{r}" for r in range(len(self.rounds))]

    def op_input(self, op: str) -> tuple[int, int]:
        if op == "batch":
            return self.facts["input_rows"], self.facts["input_bytes"]
        r = self.rounds[int(op[5:])]
        return r["input_rows"], r["input_bytes"]

    def _dirs(self) -> tuple[str, str, str]:
        base = os.path.join(self.work, f"inc-{self.n}")
        return os.path.join(base, "raw"), os.path.join(base, "out"), os.path.join(base, "ckpt")

    def prepare(self, op: str) -> None:
        """Before a batch op, clear the last pass's incremental table; before
        a round, land its log files."""
        if op == "batch":
            shutil.rmtree(os.path.join(self.work, f"inc-{self.n}"), ignore_errors=True)
            self.n += 1
            return
        raw, _, _ = self._dirs()
        os.makedirs(raw, exist_ok=True)
        for src in self.rounds[int(op[5:])]["files"]:
            os.link(src, os.path.join(raw, os.path.basename(src)))

    def run(self, spark, op: str, tracer):
        if op == "batch":
            from event_data_etl_gcs_spark.plans.sparkify import run_pipeline

            out = os.path.join(self.work, f"batch-{self.n}")
            with tracer.span("sparkify.run_pipeline"):
                run_pipeline(spark, self.facts["song_dir"], self.facts["log_dir"], out)
            return out
        from event_data_etl_gcs_spark.streaming.incremental import run_incremental_available_now

        raw, out, ckpt = self._dirs()
        with tracer.span("incremental.drain"):
            run_incremental_available_now(spark, raw, out, ckpt)
        return int(op[5:])

    def check(self, result) -> tuple[int, int]:
        """Returns (rows written, bytes on disk) of the op's output."""
        if isinstance(result, str):
            return self.check_batch(result)
        return self.check_round(result)

    def check_batch(self, out: str) -> tuple[int, int]:
        """Row counts and partitions of the five tables; the output
        directory is then removed."""
        f = self.facts
        try:
            want = {
                "songs": f["songs_rows"],
                "artists": f["artists_rows"],
                "users": f["users_rows"],
                "time": f["time_rows"],
                "songplays": f["next_song"],
            }
            rows = 0
            for table, n in want.items():
                (got,), = _duck_scalar(f"SELECT count(*) FROM {_pq(os.path.join(out, table))}")
                require(got == n, f"{table}: {got} rows, want {n}")
                rows += got
            for table, years in (("songs", f["song_years"]), ("time", f["time_years"]),
                                 ("songplays", f["time_years"])):
                parts = sorted(
                    int(d.split("=", 1)[1]) for d in os.listdir(os.path.join(out, table))
                    if d.startswith("year=")
                )
                require(parts == years, f"{table}: partitions {parts}, want {years}")
            (matched,), = _duck_scalar(
                f"SELECT count(song_id) FROM {_pq(os.path.join(out, 'songplays'))}"
            )
            require(matched == f["matched_plays"], f"songplays: {matched} matched, want {f['matched_plays']}")
            ids = _duck_scalar(f"SELECT DISTINCT user_id FROM {_pq(os.path.join(out, 'users'))}")
            require(sorted(r[0] for r in ids) == f["user_ids"], "users: key set differs")
            return rows, dir_bytes(out)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def check_round(self, r: int) -> tuple[int, int]:
        """After round ``r``: the ``time`` row count and the ``users`` key
        set equal the batch job's on the logs landed so far; after the last
        round, on all logs, as the batch op of the same pass was checked."""
        want = self.rounds[r]
        _, out, _ = self._dirs()
        (n_time,), = _duck_scalar(f"SELECT count(*) FROM {_pq(os.path.join(out, 'time'))}")
        require(n_time == want["time_rows"], f"round {r}: time {n_time} rows, want {want['time_rows']}")
        ids = _duck_scalar(f"SELECT DISTINCT user_id FROM {_pq(os.path.join(out, 'users'))}")
        require(sorted(x[0] for x in ids) == want["user_ids"], f"round {r}: users key set differs")
        if r == len(self.rounds) - 1:
            require(n_time == self.facts["time_rows"] and want["user_ids"] == self.facts["user_ids"],
                    f"round {r}: final tables differ from the batch job's")
        (n_users,), = _duck_scalar(f"SELECT count(*) FROM {_pq(os.path.join(out, 'users'))}")
        # The table holds every round landed so far: scale its size so that
        # out_bytes / this round's input bytes = table bytes / landed bytes.
        landed = sum(x["input_bytes"] for x in self.rounds[: r + 1])
        return n_time + n_users, int(dir_bytes(out) * want["input_bytes"] / landed)


# --- registry queries ----------------------------------------------------------------


def _normalize(df):
    """Columns sorted by name, rows sorted by every column; dates and
    timestamps in one carrier, arrays as tuples."""
    import datetime

    import numpy as np
    import pandas as pd

    df = df.copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
        elif df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and isinstance(sample.iloc[0], datetime.date):
                df[c] = pd.to_datetime(df[c])
            elif len(sample) and isinstance(sample.iloc[0], (list, tuple, np.ndarray)):
                df[c] = df[c].map(lambda v: v if v is None else tuple(v))
    out = df[sorted(df.columns)]
    if len(out):
        out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out.reset_index(drop=True)


class QueryMix(Workload):
    """One op = one registry query: build the frame, then force it with
    ``checksum_frame``; each pass runs every query once, in an order the
    seed permutes. Ten short analytics queries read TPC-H-style tables and
    an events stream (catalog, driver build and planning are a large share
    of their time); four corpus-curation operators read a replicated,
    perturbed corpus stored as multi-file, multi-row-group parquet (their
    stages and shuffles dominate)."""

    name = "query_mix"
    WARMUP_PASSES = 1
    PASS_S = 11.0
    SCALE = 0.05
    CORPUS = dict(n_base_docs=1_000, n_base_vecs=400, replicas=4)
    # query -> tables it reads
    QUERIES = {
        "q1_pricing_summary": ("lineitem",),
        "q3_top_orders": ("customer", "orders", "lineitem"),
        "q5_nation_revenue": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
        "q6_revenue_delta": ("lineitem",),
        "sessionize": ("events",),
        "users_latest": ("events",),
        "rollup_revenue": ("customer", "nation", "region"),
        "tumbling_window_counts": ("events",),
        "asof_join_last_purchase": ("events",),
        "gap_fill_daily_counts": ("events",),
        "dedup_minhash_lsh": ("documents",),
        "training_corpus_select": ("documents",),
        "ann_lsh": ("embeddings",),
        "dedup_exact": ("documents",),
    }

    def generate(self, work: str, seed: int) -> dict:
        from event_data_etl_gcs_spark.queries import all_queries

        self.seed = seed
        self.sf_dir = os.path.join(work, "tables")
        tables = gen.tables(self.sf_dir, seed, self.SCALE)
        self.corpus = gen.corpus(self.sf_dir, seed, **self.CORPUS)
        rows = dict(tables["table_rows"], documents=self.corpus["docs_rows"],
                    embeddings=self.corpus["vecs_rows"])
        size = {t: dir_bytes(os.path.join(self.sf_dir, f"{t}.parquet"))
                if t in ("documents", "embeddings")
                else os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet")) for t in rows}
        self.op_rows = {q: sum(rows[t] for t in ts) for q, ts in self.QUERIES.items()}
        self.op_bytes = {q: sum(size[t] for t in ts) for q, ts in self.QUERIES.items()}
        self.specs = all_queries()
        missing = [q for q in self.QUERIES if q not in self.specs]
        require(not missing, f"queries not registered: {missing}")
        self.reference: dict[str, tuple] = {}
        self.oracle = self._oracle_results(tables["table_rows"])
        return {
            "input_rows": sum(rows.values()),
            "input_bytes": sum(size.values()),
        }

    def _oracle_results(self, tables) -> dict:
        """The DuckDB oracle of every query over the single-file tables."""
        from event_data_etl_gcs_spark.queries.registry import resolve_oracle

        con = duckdb.connect()
        try:
            for t in tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            return {
                q: _normalize(con.execute(resolve_oracle(self.specs[q], self.sf_dir)).df())
                for q, ts in self.QUERIES.items()
                if set(ts) <= set(tables)
            }
        finally:
            con.close()

    def passes(self, k: int) -> list[str]:
        order = list(self.QUERIES)
        random.Random(self.seed * 1000 + k).shuffle(order)
        return order

    def op_input(self, op: str) -> tuple[int, int]:
        return self.op_rows[op], self.op_bytes[op]

    def run(self, spark, op: str, tracer):
        spec = self.specs[op]
        with tracer.span("queries.build", query=op):
            df = spec.fn(spark, self.sf_dir)
        fold = checksum_frame(df)
        if tracer.enabled:
            with tracer.span("catalyst.plan"):
                fold._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            row = fold.collect()[0]
        return op, (row["n"], row["h"]), df

    def check(self, result) -> tuple[int, int]:
        """The first run of a query is checked in full (its rows collected
        again, outside the timing) and fixes the reference checksum."""
        op, checksum, df = result
        if op not in self.reference:
            rows = df.toPandas()
            require(len(rows) == checksum[0], f"{op}: {len(rows)} rows collected, {checksum[0]} counted")
            if op in self.oracle:
                self.check_oracle(op, rows)
            else:
                self.check_corpus(op, rows)
            self.reference[op] = checksum
        require(checksum == self.reference[op], f"{op}: checksum {checksum} != checked {self.reference[op]}")
        return checksum[0], 0

    def check_oracle(self, op: str, got) -> None:
        """Exact match against the query's DuckDB oracle."""
        import pandas as pd

        got, want = _normalize(got), self.oracle[op]
        require(list(got.columns) == list(want.columns), f"{op}: columns {list(got.columns)} vs {list(want.columns)}")
        require(len(got) == len(want), f"{op}: {len(got)} rows vs oracle {len(want)}")
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except AssertionError as e:
            raise CheckFailed(f"{op}: differs from oracle: {e}") from None

    def check_corpus(self, op: str, got) -> None:
        """Invariants of the corpus operators (no oracle at this size)."""
        n_docs, n_vecs = self.corpus["docs_rows"], self.corpus["vecs_rows"]
        require(len(got) > 0, f"{op}: empty result")
        if op == "dedup_exact":
            want = self.corpus["exact_dup_groups"]
            require(len(got) == want, f"dedup_exact: {len(got)} groups, want {want}")
            require(bool((got["n_copies"] > 1).all()), "dedup_exact: group of one")
            require(bool(got["keeper_id"].between(0, n_docs - 1).all()), "dedup_exact: keeper not an input id")
        elif op == "training_corpus_select":
            ids = got["doc_id"]
            require(ids.is_unique, "training_corpus_select: duplicate survivor")
            require(bool(ids.between(0, n_docs - 1).all()), "training_corpus_select: survivor not in input")
        elif op == "dedup_minhash_lsh":
            require(bool((got["id_a"] < got["id_b"]).all()), "dedup_minhash_lsh: pair not ordered")
            require(bool(got["id_b"].between(0, n_docs - 1).all()), "dedup_minhash_lsh: id not in input")
            require(bool((got["jaccard"] >= 0.5).all()), "dedup_minhash_lsh: pair below threshold")
        elif op == "ann_lsh":
            require(bool(got["neighbor_id"].between(0, n_vecs - 1).all()), "ann_lsh: neighbor not in input")


WORKLOADS = {w.name: w for w in (Etl, QueryMix)}
