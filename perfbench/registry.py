"""Registry workload: registry queries built and executed to a noop sink
over tables generated at sf0.01.

One op runs the OP_QUERIES: a six-table join whose plan reads a table
through ``sources.tables.load_table`` per relation, and the composed dedup
pipeline with its connected-components driver loop. The traced run also
sweeps the bench.py headline list plus the dedup pipeline (QUERIES), one
span per query build and execution.

The tables follow the shapes of the synthetic TPC-H-like fixtures the
registry is verified on (row counts per scale factor, key ranges, value
domains, exact and near-duplicate documents). Money columns are whole
multiples of 100, so every rounded money aggregate is exact: a half-cent
tie would otherwise let Spark's and DuckDB's summation orders round to
different cents, which is not a defect of the program.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np

from spans import NullTracer, span_stats, task_stats

# sf0.01: at sf0.1 the dedup pipeline's DuckDB oracle alone takes ~15 s on
# 4 cores, more than a run can carry, while the Spark side is fixed-cost
# bound at both scales (a warm sweep of QUERIES takes 14 s at sf0.01 and
# 18 s at sf0.1).
SF = 0.01

OP_QUERIES = ["q5_local_supplier_volume", "dedup_pipeline_e2e"]

# bench.py HEADLINE, in its order, plus dedup_pipeline_e2e.
QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_nation_pair_volume",
    "q13_customer_order_distribution",
    "q19_disjunctive_revenue",
    "a2_solar_day",
    "a4_group_sort_bucketize",
    "j1_tyx_bins",
    "window_top3_orders_per_customer",
    "t_session_windows",
    "text_quality_score",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_bruteforce_cosine",
    "j_interval_bucketed",
    "funnel_stages",
    "pivot_user_event_matrix",
    "dedup_pipeline_e2e",
]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "filter group vector"
).split()
LANGS = (["en", "zh", "de", "fr", "es"], [0.41, 0.15, 0.14, 0.15, 0.15])


def _ts(base: str, offsets_us: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]")


def generate_tables(out_dir: str, seed: int, sf: float = SF) -> None:
    """Write the ten fixture tables as parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc, n_vec = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = int(15_000 * sf)
    day_us = 86_400_000_000
    tables = {}

    tables["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    }
    tables["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    tables["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }
    tables["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    colours = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
    nouns = ["widget", "bolt", "ring", "gear", "plate", "valve", "pipe", "screw"]
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{colours[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"])[
            rng.integers(0, 6, n_part)
        ],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    }
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": 100.0 * rng.integers(10, 5000, n_ord),
        "o_orderdate": _ts("1995-01-01", order_day * day_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_line = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    tables["lineitem"] = {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": (np.arange(n_line) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": 100.0 * rng.integers(9, 1000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-01", (order_day[l_order] + rng.integers(1, 122, n_line)) * day_us),
    }
    ev_us = np.sort(rng.integers(0, 30 * day_us, n_ev))
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.0, 560.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(
            list(rng.normal(0.0, 0.12, (n_vec, 64)).astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Random word documents with a fixed duplicate structure, so every
    seed gives the LSH candidates and the connected-components loop the
    same amount of work: every 20th document is a near duplicate of the
    document 10 before it (one word appended), and every 500th, offset 257,
    an exact duplicate (case and spacing changed) of the one 100 before."""
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        if i % 500 == 257:
            texts.append("  " + texts[i - 100].upper() + " ")
        elif i % 20 == 19:
            texts.append(texts[i - 10] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(20, 100)))]))
    langs, weights = LANGS
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(langs)[rng.choice(len(langs), n, p=weights)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def value_hash(pdf) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted,
    floats rounded to 9 decimals (queries round their own aggregates)."""
    import pandas as pd

    df = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[ns]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(9) + 0.0
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    df = df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")
    return hashlib.md5(df.to_csv(index=False, float_format="%.9g").encode()).hexdigest()


class RegistrySweep:
    """One op builds and runs each of OP_QUERIES to a noop sink, in an
    order fixed by the seed for the whole run."""

    # per-layer metric prefixes of layers this workload does not run
    skipped_layers = ("fixtures.cog_mb", "stac_items.", "load.", "catalog.", "tiles.",
                      "geotiff.", "mosaic.")
    # plain untimed ops after the checked warm-up op, inside setup_s
    warm_ops = 0

    def __init__(self, spark, workdir: str, seed: int, nproc: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.nproc = nproc
        self.fixture_stats: dict = {}

    def setup(self) -> None:
        from odc_stac_spark.queries import load_all

        t0 = time.perf_counter()
        self.sf_dir = os.path.join(self.workdir, f"sf{SF}")
        generate_tables(self.sf_dir, self.seed)
        self.fixture_stats["fixtures.write_s"] = time.perf_counter() - t0
        self.registry = load_all()
        order = np.random.default_rng(self.seed).permutation(len(OP_QUERIES))
        self.order = [OP_QUERIES[i] for i in order]

    def op(self, tr, names=None) -> None:
        from odc_stac_spark.queries import release_caches

        # an op must not reuse blocks the previous op persisted
        release_caches()
        for name in names or self.order:
            with tr.span(f"q.{name}.build", group=True):
                df = self.registry[name].spark_fn(self.spark, self.sf_dir)
            with tr.span(f"q.{name}.exec", group=True):
                df.write.mode("overwrite").format("noop").save()

    def warmup(self) -> None:
        """One op through the same calls, collecting each query's result
        for ``verify``."""
        from odc_stac_spark.queries import release_caches

        release_caches()
        self.results = {
            name: self.registry[name].spark_fn(self.spark, self.sf_dir).toPandas()
            for name in self.order
        }

    def verify(self) -> int:
        """The warm-up op's results against each query's DuckDB oracle over
        the same files (row count, column names, value hash); returns
        mismatches."""
        import duckdb

        from odc_stac_spark.sources.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.sf_dir, t)}.parquet')"
            )
        self.mismatched = []
        for name, got in self.results.items():
            want = con.sql(self.registry[name].oracle).df()
            if (
                len(got) != len(want)
                or sorted(got.columns) != sorted(want.columns)
                or value_hash(got) != value_hash(want)
            ):
                self.mismatched.append(name)
        con.close()
        return len(self.mismatched)

    def traced_extras(self, tracer) -> dict:
        """One untimed and one traced sweep of QUERIES, then ``load_table``
        called directly for each of the ten tables."""
        from odc_stac_spark.sources.tables import TABLES, load_table

        self.op(NullTracer(), QUERIES)
        tracer.op_id = "sweep"
        self.op(tracer, QUERIES)
        out = {}
        for name in QUERIES:
            for part in ("build", "exec"):
                (rec,) = tracer.named(f"q.{name}.{part}", ["sweep"])
                out[f"q.{name}.{part}_s"] = rec["end"] - rec["start"]
        tracer.op_id = "tables"
        for t in TABLES:
            with tracer.span("tables.load_table", group=True):
                load_table(self.spark, self.sf_dir, t)
        recs = tracer.named("tables.load_table", ["tables"])
        out["tables.load_table_s"] = sum(r["end"] - r["start"] for r in recs)
        out["tables.load_table_jobs"] = sum(r["jobs"] for r in recs)
        return out

    def layer_metrics(self, tracer, ids, events, nproc, plain_p50) -> dict:
        """queries.* per op, summed over the op's queries."""
        m = dict.fromkeys(
            ("build_s", "exec_s", "build_jobs", "exec_jobs", "stages", "tasks"), 0.0
        )
        groups = []
        for name in OP_QUERIES:
            b = span_stats(tracer, f"q.{name}.build", ids)
            e = span_stats(tracer, f"q.{name}.exec", ids)
            m["build_s"] += b["s"]
            m["exec_s"] += e["s"]
            m["build_jobs"] += b["jobs"]
            m["exec_jobs"] += e["jobs"]
            m["stages"] += b["stages"] + e["stages"]
            m["tasks"] += b["tasks"] + e["tasks"]
            groups += b["groups"] + e["groups"]
        m.update(
            (k, v) for k, v in task_stats(events, groups, len(ids)).items()
            if k in ("task_retries", "task_run_s", "task_cpu_s", "shuffle_write_mb", "spill_mb")
        )
        m["oracle_mismatches"] = len(self.mismatched)
        return {f"queries.{k}": v for k, v in m.items()}
