"""The benchmark's workloads.

Each workload drives the engine only through its public functions
(suite queries, ``plans/`` builders behind them, ``sinks``, ``api``,
``streaming``) and checks every result against the suite's DuckDB
oracle for the same inputs. A workload has three steps:

- ``prepare`` (before the JVM starts): expected results from DuckDB;
- ``register`` (inside the set-up): the inputs are opened through
  ``catalog.load_table``; ``build_state`` then builds any standing
  state the passes start from;
- ``run_pass`` (timed): one complete pass, made of operations.

Before every pass ``reset`` wipes the workload's sink, checkpoint and
index directories and releases cached intermediates, so each pass
starts from the same state.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pandas.api.types import is_bool_dtype, is_numeric_dtype

from mfdb_hafro_etl_spark import api, catalog, session, sinks
from mfdb_hafro_etl_spark.streaming import jobs as streaming
from mfdb_hafro_etl_spark.suite import ORACLES, QUERIES
from mfdb_hafro_etl_spark.suite import fixtures as fx

# ------------------------------------------------------------ checking


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<N>"
    return "%.10g" % v if isinstance(v, float) else str(v)


def _rows(df) -> list[tuple]:
    df = df[sorted(df.columns)]
    return sorted(tuple(_cell(v) for v in r) for r in df.itertuples(index=False, name=None))


def _close(a: str, b: str) -> bool:
    """Equal, or two numbers rounded to 2+ decimal places that differ
    by one unit in the last place: the engines may sum in different
    orders before rounding."""
    if a == b:
        return True
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    places = max(len(s.partition(".")[2]) for s in (a, b))
    return places >= 2 and abs(x - y) <= 1.01 * 10.0 ** -places


def _numeric(s) -> bool:
    return is_numeric_dtype(s) and not is_bool_dtype(s)


def _sorted_frame(df):
    """``df`` with its columns by name, numbers as float64, every other
    cell as its string (nulls as ``<N>``), rows sorted."""
    df = df[sorted(df.columns)]
    cols = {
        c: df[c].astype("float64") if _numeric(df[c]) else df[c].map(_cell)
        for c in df.columns
    }
    out = pd.DataFrame(cols)
    return out.sort_values(list(out.columns), na_position="last", kind="mergesort").reset_index(drop=True)


def same_rows(actual, expected) -> bool:
    """Order-insensitive comparison of two pandas frames: equal cells,
    or numbers that agree to ten significant digits or by the
    :func:`_close` rule."""
    if sorted(actual.columns) != sorted(expected.columns) or len(actual) != len(expected):
        return False
    if all(_numeric(actual[c]) == _numeric(expected[c]) for c in actual.columns):
        a, e = _sorted_frame(actual), _sorted_frame(expected)
        for c in a.columns:
            x, y = a[c].to_numpy(), e[c].to_numpy()
            if _numeric(a[c]):
                same = (x == y) | (np.isnan(x) & np.isnan(y)) | np.isclose(x, y, rtol=1e-10, atol=0.0)
            else:
                same = x == y
            if not all(_close(_cell(x[i]), _cell(y[i])) for i in np.flatnonzero(~same)):
                return False
        return True
    # mixed column types: compare cell strings row by row
    a, e = _rows(actual), _rows(expected)
    if a == e:
        return True
    return all(all(_close(x, y) for x, y in zip(ra, re)) for ra, re in zip(a, e))


def read_sink(con, path: str):
    """Read a partitioned parquet sink back with DuckDB (no Spark job)."""
    return con.sql(
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = 1)"
    ).df()


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    #: fewest timed passes per run; metrics are medians over them. Two
    #: keep a run near a minute: host load, not the pass count, sets
    #: the spread between runs
    min_passes = 2

    def __init__(self, in_dir: str, work: str, seed: int, tracer) -> None:
        self.in_dir, self.work, self.seed, self.tracer = in_dir, work, seed, tracer
        self.sink_dir = os.path.join(work, "sink")
        self.written = (0, 0)
        self.fk_rejects = 0
        self.progress: list[dict] = []

    def register(self, spark) -> None:
        for t in self.tables:
            catalog.load_table(spark, self.in_dir, t)

    def build_state(self, spark) -> None:
        """Build the standing state the passes start from (set-up work
        of the workload's own layer, not of the catalog)."""

    def on_session(self, spark) -> None:
        """Called once per session, before its warm-up."""

    def warm_up(self, spark, con) -> None:
        """The set-up's warm-up: one whole pass, unchecked."""
        self.reset(spark)
        self.run_pass(spark, con, check=False)

    def reset(self, spark) -> int:
        """Wipe the sinks and release cached intermediates; return the
        persistent RDDs left (a check, not a metric)."""
        shutil.rmtree(self.sink_dir, ignore_errors=True)
        session.release_cached_intermediates(spark)
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    def _op(self, kind: str, fn):
        """Time one operation; return (seconds, result or exception)."""
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind):
                out = fn()
        except Exception as exc:  # counted per operation, the run goes on
            traceback.print_exc()
            return time.perf_counter() - t0, exc
        return time.perf_counter() - t0, out


# ---------------------------------------------------------- mfdb_load

#: (suite query, sink, FK gate) in the reference initdb.R order: the
#: vessel taxonomy dimension, the stations spine, the ldist fact keyed
#: on stations, the landings, the landings rescaled to the published
#: figures (its builder collects the published table eagerly) and the
#: shrimp stations overlay. Each FK gate is (dimension, fact key
#: columns); dimensions are the tables this pass imported before, read
#: back through sinks.
LOAD_ARMS = (
    ("p8_vessel_taxonomy", "vessels", None),
    ("p1_stations", "stations", ("vessels", ["vessel"])),
    ("p2_ldist", "ldist", ("stations", ["tow"])),
    ("p4_landings", "landings", ("species", ["species"])),
    ("p6_landings_rescale", "landings_rescaled", ("species", ["species"])),
    ("p7_shrimp_overlay", "shrimp_stations", None),
)

#: DuckDB mirrors of the api aggregations (the suite's m6 oracle forms)
_AGG_SQL = {
    "sample_count": 'ROUND(SUM("count"), 2) AS total_count',
    "sample_meanlength": (
        'ROUND(CASE WHEN SUM("count") = 0 THEN NULL '
        'ELSE SUM("count" * length) / SUM("count") END, 4) AS mean_length'
    ),
    "sample_meanlength_stddev": (
        'ROUND(CASE WHEN SUM("count") = 0 THEN NULL '
        'ELSE SUM("count" * length) / SUM("count") END, 4) AS mean_length, '
        'ROUND(SQRT(GREATEST(CASE WHEN SUM("count") <= 1 THEN NULL ELSE '
        '(SUM("count" * length * length) - SUM("count" * length) * SUM("count" * length) '
        '/ SUM("count")) / (SUM("count") - 1) END, 0.0)), 4) AS stddev_length'
    ),
}


def readback_queries(seed: int, species: list[str], years: tuple[int, int]) -> list[dict]:
    """The analyst's mfdb_sample_* calls over the imported ldist fact:
    one of each api aggregation plus a rawdata pull, with seeded
    year-range and species filters."""
    rng = random.Random(seed)

    def pick(k):
        return sorted(rng.sample(species, min(k, len(species))))

    y0 = rng.randint(*years)
    y1 = rng.randint(y0, years[1])
    return [
        {"kind": "sample_count", "group_by": ["species", "year"], "filters": {"year": (y0, y1)}},
        {"kind": "sample_meanlength", "group_by": ["species"], "filters": {"species": pick(8)}},
        {"kind": "sample_meanlength_stddev", "group_by": ["year"], "filters": {"year": (y0, y1), "species": pick(4)}},
        {"kind": "sample_rawdata", "cols": ["tow", "species", "length", "count"],
         "filters": {"year": (y0, y0), "species": pick(2)}},
    ]


def _oracle_sql(q: dict, fact_sql: str) -> str:
    """DuckDB mirror of one api call over ``fact_sql``."""
    where = []
    for col, spec in q["filters"].items():
        if isinstance(spec, tuple):
            where.append(f"{col} BETWEEN {spec[0]} AND {spec[1]}")
        else:
            where.append(f"{col} IN ({', '.join(repr(s) for s in spec)})")
    cond = " AND ".join(where) or "TRUE"
    fact = f"WITH fact AS ({fact_sql}) "
    if q["kind"] == "sample_rawdata":
        cols = ", ".join(f'"{c}"' for c in q["cols"])
        return fact + f"SELECT {cols} FROM fact WHERE {cond}"
    g = ", ".join(q["group_by"])
    return fact + f"SELECT {g}, {_AGG_SQL[q['kind']]} FROM fact WHERE {cond} GROUP BY {g}"


class MfdbLoad(Workload):
    """One pass imports every fact, then reads the ldist fact back
    through the api the way a stock-assessment user does."""

    name = "mfdb_load"
    tables = ("orders", "customer", "lineitem")

    def prepare(self, con) -> None:
        self.expected = {q: con.sql(ORACLES[q]).df() for q, _, _ in LOAD_ARMS}
        ldist = ORACLES["p2_ldist"]
        species = [r[0] for r in con.sql(f"SELECT DISTINCT species FROM ({ldist}) WHERE species IS NOT NULL").fetchall()]
        years = con.sql(f"SELECT MIN(year), MAX(year) FROM ({ldist})").fetchone()
        self.readback = readback_queries(self.seed, sorted(species), years)
        self.readback_expected = [con.sql(_oracle_sql(q, ldist)).df() for q in self.readback]

    def _dim(self, spark, name: str):
        if name == "species":
            return fx.species_key(spark, self.in_dir)
        return sinks.read_fact(spark, os.path.join(self.sink_dir, name))

    def _import(self, spark, query: str, sink: str, gate) -> None:
        # the suite pipeline composes fixtures and plans/ builders
        with self.tracer.span("plans", query):
            df = QUERIES[query](spark, self.in_dir)
        taxonomies = None
        if gate is not None:
            dim, keys = gate
            taxonomies = {dim: (self._dim(spark, dim), keys)}
        try:
            sinks.import_fact(df, os.path.join(self.sink_dir, sink), query, taxonomies=taxonomies)
        except ValueError as exc:
            self.fk_rejects += str(exc).startswith("unregistered")
            raise

    def _query(self, spark, q: dict):
        fact = sinks.read_fact(spark, os.path.join(self.sink_dir, "ldist"))
        if q["kind"] == "sample_rawdata":
            df = api.sample_rawdata(fact, q["cols"], q["filters"])
        else:
            df = getattr(api, q["kind"])(fact, q["group_by"], q["filters"])
        return self.tracer.collect(df)

    def run_pass(self, spark, con, check: bool = True) -> dict:
        lat, failed, t_pass = [], 0, 0.0
        for query, sink, gate in LOAD_ARMS:
            sec, out = self._op("import", lambda: self._import(spark, query, sink, gate))
            lat.append(sec)
            if isinstance(out, Exception):
                failed += 1
            elif check:
                got = read_sink(con, os.path.join(self.sink_dir, sink)).drop(columns=["data_source"])
                failed += not same_rows(got, self.expected[query])
        self.written = dir_stats(self.sink_dir)
        queries = list(zip(self.readback, self.readback_expected))
        for q, expected in queries:
            sec, out = self._op("query", lambda: self._query(spark, q))
            t_pass += sec
            if isinstance(out, Exception):
                failed += 1
            elif check:
                failed += not same_rows(out.to_pandas(), expected)
        names = [q for q, _, _ in LOAD_ARMS]
        return {
            "pass_s": sum(lat) + t_pass, "ops": lat, "names": names,
            "queries": len(queries), "attempted": len(lat) + len(queries), "failed": failed,
        }


# ------------------------------------------------------- stream_ingest

#: MinHash parameters of the suite's x_stream_dedup_ingest arm
LSH = {"n": 3, "k": 8, "rows_per_band": 2}
#: micro-batches per pass (one staged file each)
BATCHES = 2


class StreamIngest(Workload):
    """Replays two staged micro-batches through
    streaming.jobs.stream_dedup_ingest against a standing LSH index,
    with the batch split of the suite's x_stream_dedup_ingest arm
    (index: doc_id % 10 == 0; batch 1: the other odd ids; batch 2: the
    other even ids), so that arm's oracle checks every pass."""

    name = "stream_ingest"
    tables = ("documents",)
    def prepare(self, con) -> None:
        self.expected = con.sql(ORACLES["x_stream_dedup_ingest"]).df()
        self.pristine = os.path.join(self.work, "index0")
        self.src = os.path.join(self.work, "src")
        self.idx = os.path.join(self.sink_dir, "idx")
        self.vdir = os.path.join(self.sink_dir, "verdicts")
        docs = pq.read_table(os.path.join(self.in_dir, "documents.parquet"), columns=["doc_id", "text"])
        ids = docs.column("doc_id").to_numpy()
        os.makedirs(self.src, exist_ok=True)
        for i, keep in enumerate([(ids % 10 != 0) & (ids % 2 == 1), (ids % 10 != 0) & (ids % 2 == 0)]):
            # maxFilesPerTrigger=1 over pinned mtimes: one file = one micro-batch
            path = os.path.join(self.src, f"b{i + 1}.parquet")
            pq.write_table(docs.filter(keep), path)
            os.utime(path, (1_000 + i, 1_000 + i))

    def build_state(self, spark) -> None:
        """Build the standing LSH index over the corpus slice."""
        from pyspark.sql import functions as F

        from mfdb_hafro_etl_spark.operators import dedup

        docs = catalog.load_table(spark, self.in_dir, "documents").select("doc_id", "text")
        dedup.lsh_index_write(docs.filter(F.col("doc_id") % 10 == 0), self.pristine, "doc_id", "text", **LSH)
        self.state_partitions = streaming.auto_state_partitions(spark, self.in_dir, table="documents")

    def on_session(self, spark) -> None:
        listen_progress(spark, self.progress)

    def reset(self, spark) -> int:
        left = super().reset(spark)
        shutil.copytree(self.pristine, self.idx)
        return left

    def _ingest(self, spark):
        stream = (
            spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", "1")
            .parquet(self.src)
        )
        out = streaming.stream_dedup_ingest(
            stream, self.idx, self.vdir, "doc_id", "text",
            state_partitions=self.state_partitions, **LSH,
        )
        return self.tracer.collect(out)

    def run_pass(self, spark, con, check: bool = True) -> dict:
        n0 = len(self.progress)
        sec, out = self._op("pass", lambda: self._ingest(spark))
        self.tracer.drain(spark)
        batches = [p for p in self.progress[n0:] if p["rows"] > 0]
        ok = not isinstance(out, Exception) and len(batches) == BATCHES
        if ok and check:
            ok = same_rows(out.to_pandas(), self.expected)
        self.written = dir_stats(self.sink_dir)
        lat = [p["batch_s"] for p in batches]
        n = max(len(lat), BATCHES)
        return {"pass_s": sec, "ops": lat, "attempted": n, "failed": 0 if ok else n, "batches": batches}


def listen_progress(spark, sink: list) -> None:
    """Record every micro-batch's progress (trigger wall time, addBatch
    time, input rows, state rows) through a StreamingQueryListener."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            sink.append({
                "rows": p.numInputRows,
                "batch_s": d.get("triggerExecution", 0) / 1e3,
                "addbatch_s": d.get("addBatch", 0) / 1e3,
                "state_rows": sum(s.numRowsTotal for s in (p.stateOperators or [])),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Progress())


WORKLOADS = {w.name: w for w in (MfdbLoad, StreamIngest)}
