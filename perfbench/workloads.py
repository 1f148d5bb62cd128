"""The three benchmark workloads.

Each workload runs one closed-loop client in the driver process. The
runner calls, in order:

- ``prepare()`` before Spark starts: writes the seeded inputs;
- ``start(spark)``: oracles and services the checks and ops need;
- ``round(r)``: the op keys of round ``r`` — a round is the unit whose
  composition never varies with the seed, only its order;
- ``execute(key, tracer)`` (timed) then ``verify(key, payload)`` (untimed)
  per op, and ``staged(key, tracer)`` for the traced run, which drives the
  same public functions stage by stage with each stage's input
  materialized first;
- ``layer_metrics(ref, staged)`` after a traced run;
- ``close()``.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import subprocess
import sys
import urllib.request

import gen
from check import digest, oracle_digest
from pyspark.sql import Column, DataFrame

from food_panda_etl_spark import tables as fp_tables
from food_panda_etl_spark.queries import ORACLES, QUERIES

_EXCHANGE = re.compile(r"\b(?:Broadcast|Reused)?Exchange\b")


def final_plan_exchanges(df) -> int:
    """Exchange nodes in the final adaptive plan of an executed frame."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==", 1)[-1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(final))


def _patched(module, name: str, tracer, span_name: str):
    """Replace ``module.name`` with a wrapper that records a span around
    each call; returns an undo callable."""
    orig = getattr(module, name)

    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    setattr(module, name, wrapper)
    return lambda: setattr(module, name, orig)


def _materialize(x):
    """A DataFrame computed and cut from its lineage; anything else as is."""
    return x.localCheckpoint(eager=True) if isinstance(x, DataFrame) else x


def _staged(module, name: str, tracer, span_name: str, calls: dict):
    """Replace ``module.name`` with a wrapper that materializes the call's
    DataFrame arguments, then records a span around the call and the
    materialization of its result; returns an undo callable. A Column
    result is evaluated over the first argument inside the span. The last
    call's (args, kwargs, result) is kept in ``calls[span_name]``."""
    orig = getattr(module, name)

    def wrapper(*args, **kwargs):
        args = tuple(_materialize(a) for a in args)
        kwargs = {k: _materialize(v) for k, v in kwargs.items()}
        with tracer.span(span_name):
            out = orig(*args, **kwargs)
            if isinstance(out, Column):
                args[0].select(out).write.format("noop").mode("overwrite").save()
            else:
                out = _materialize(out)
        calls[span_name] = (args, kwargs, out)
        return out

    setattr(module, name, wrapper)
    return lambda: setattr(module, name, orig)


def _trace_load_table(tracer):
    """Record ``tables.load_table`` spans wherever the query modules call
    it (each imported the function by name)."""
    undo, orig = [], fp_tables.load_table
    for mod in list(sys.modules.values()):
        if (mod is not None and getattr(mod, "__name__", "").startswith("food_panda_etl_spark")
                and getattr(mod, "load_table", None) is orig):
            undo.append(_patched(mod, "load_table", tracer, "tables.load_table"))
    return lambda: [u() for u in undo]


class Workload:
    name = ""
    #: untimed rounds before the first timed one
    warmup_rounds = 1

    def __init__(self, work: str, seed: int, tiny: bool = False):
        """``tiny`` shrinks the inputs for the benchmark's smoke tests."""
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.counters: dict[str, float] = {}

    def prepare(self) -> dict:
        raise NotImplementedError

    def start(self, spark) -> None:
        self.spark = spark

    def round(self, r: int) -> list:
        return ["pass"]

    def inspect(self, key, payload) -> None:
        """Untimed per-op counters, called after ``verify`` on each op of
        the traced run's reference round."""

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------


class LakeQueries(Workload):
    """Seed-ordered mix of relational keys over a generated lake.

    Measured warm, as a long-lived query session meets it. After one
    round the JIT is still converging (a second round cut the median
    query time by about a fifth, and one warm-up round left the median
    spreading by half from run to run), so two warm-up rounds run first."""

    name = "lake_queries"
    warmup_rounds = 2
    SCALE = 0.01
    #: one key per kind of relational work (four for TPC-H), few enough
    #: that three rounds (two of them warm-up) fit a run's time budget
    KEYS = [
        "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_inner_join",
        "q_groupby_agg", "q_topk_per_group", "q_running_sum", "q_funnel",
        "q_retention", "q_skew_join",
    ]
    TINY_KEYS = ["q_tpch_q5", "q_running_sum", "q_funnel"]

    def prepare(self) -> dict:
        self.lake = os.path.join(self.work, "lake")
        self.keys = self.TINY_KEYS if self.tiny else self.KEYS
        scale = self.SCALE / 10 if self.tiny else self.SCALE
        return {"scale": scale, "rows": gen.write_lake(self.lake, self.seed, scale),
                "keys": len(self.keys)}

    def start(self, spark) -> None:
        super().start(spark)
        self.oracle = {
            k: oracle_digest(ORACLES[k], self.lake, fp_tables.TABLES) for k in self.keys
        }

    def round(self, r: int) -> list:
        keys = list(self.keys)
        random.Random(f"{self.seed}-{r}").shuffle(keys)
        return keys

    def execute(self, key, tracer):
        with tracer.span("queries.build", key=key):
            df = QUERIES[key](self.spark, self.lake)
        with tracer.span("queries.execute", key=key):
            rows = df.collect()
        return 1, (df, rows)

    def verify(self, key, payload) -> bool:
        df, rows = payload
        return digest(df.columns, rows) == self.oracle[key]

    def inspect(self, key, payload) -> None:
        self.counters["queries.exchanges"] = (
            self.counters.get("queries.exchanges", 0) + final_plan_exchanges(payload[0])
        )

    def staged(self, key, tracer) -> bool:
        undo = _trace_load_table(tracer)
        try:
            _, payload = self.execute(key, tracer)
        finally:
            undo()
        return self.verify(key, payload)

    def layer_metrics(self, ref, staged) -> dict:
        return {
            "tables.load_table_s": staged.total("tables.load_table"),
            "tables.load_table_calls": staged.count("tables.load_table"),
        }


# --------------------------------------------------------------------------


class LlmCuration(Workload):
    """``q_llm_prep`` then ``q_semantic_dedup`` over a generated corpus."""

    name = "llm_curation"
    QUERY_KEYS = ["q_llm_prep", "q_semantic_dedup"]
    DOCS, VECS = 200, 200
    EXACT_SHARE, NEAR_SHARE = 0.08, 0.08

    def prepare(self) -> dict:
        self.corpus = os.path.join(self.work, "corpus")
        self.docs, vecs = (self.DOCS // 5, self.VECS // 5) if self.tiny else (self.DOCS, self.VECS)
        return gen.write_corpus(
            self.corpus, self.seed, n_docs=self.docs, n_vecs=vecs,
            exact_share=self.EXACT_SHARE, near_share=self.NEAR_SHARE,
        )

    def start(self, spark) -> None:
        super().start(spark)
        self.oracle = {
            k: oracle_digest(ORACLES[k], self.corpus, ["documents", "embeddings"])
            for k in self.QUERY_KEYS
        }

    def execute(self, key, tracer):
        out = {}
        for q in self.QUERY_KEYS:
            with tracer.span("queries.build", key=q):
                df = QUERIES[q](self.spark, self.corpus)
            with tracer.span("queries.execute", key=q):
                out[q] = (df, df.collect())
        return self.docs, out

    def verify(self, key, payload) -> bool:
        return all(
            digest(df.columns, rows) == self.oracle[q] for q, (df, rows) in payload.items()
        )

    def inspect(self, key, payload) -> None:
        self.counters["queries.exchanges"] = sum(
            final_plan_exchanges(df) for df, _ in payload.values()
        )

    #: the public operators the declared queries call, by the module that
    #: defines them; the traced run wraps each in a span
    STAGES = [
        ("queries.text", "language_id"),
        ("operators.dedup", "verified_jaccard_pairs_lsh"),
        ("operators.components", "dedup_keep_representative"),
        ("operators.components", "connected_components"),
        ("operators.order", "global_running_sum"),
        ("operators.kmeans", "kmeans_fit"),
        ("operators.similarity", "cell_neardup_pairs"),
    ]

    def staged(self, key, tracer) -> bool:
        """The declared queries, with every operator in ``STAGES`` wrapped
        by :func:`_staged` (the queries import them at call time)."""
        import importlib

        self.calls: dict = {}
        undo = [_trace_load_table(tracer)]
        for mod, fn in self.STAGES:
            module = importlib.import_module(f"food_panda_etl_spark.{mod}")
            undo.append(_staged(module, fn, tracer, f"{mod}.{fn}", self.calls))
        try:
            _, payload = self.execute(key, tracer)
        finally:
            for u in reversed(undo):
                u()
        return self.verify(key, payload)

    def layer_metrics(self, ref, staged) -> dict:
        from food_panda_etl_spark.operators.dedup import minhash_lsh_pairs

        (survivors, id_col, text_col), kw, pairs = self.calls["operators.dedup.verified_jaccard_pairs_lsh"]
        with staged.span("operators.dedup.minhash_lsh_pairs"):
            # the signatures and bands of the declared verified call;
            # threshold 0 keeps every band collision, i.e. the candidate set
            candidates = minhash_lsh_pairs(
                survivors, id_col, text_col, num_hashes=kw["num_hashes"], bands=kw["bands"],
                shingle_n=kw["n"], threshold=0.0,
            ).count()
        verified = pairs.count()
        names = [
            "tables.load_table", "queries.text.language_id",
            "operators.dedup.verified_jaccard_pairs_lsh", "operators.dedup.minhash_lsh_pairs",
            "operators.components.dedup_keep_representative",
            "operators.components.connected_components",
            "operators.order.global_running_sum", "operators.kmeans.kmeans_fit",
            "operators.similarity.cell_neardup_pairs",
        ]
        out = {f"{n}_s": staged.total(n) for n in names}
        out.update({
            "tables.load_table_calls": staged.count("tables.load_table"),
            "operators.dedup.lsh_candidates": candidates,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.lsh_precision": verified / candidates if candidates else 0.0,
            "operators.components.cc_jobs": staged.total(
                "operators.components.connected_components", "jobs"),
        })
        return out


# --------------------------------------------------------------------------


class VendorEtl(Workload):
    """The reference job: listing scan and lookups over the loopback API,
    enrichment, partitioned write, read-back."""

    name = "vendor_etl"
    STARTED_AT = 1_742_500_000

    def prepare(self) -> dict:
        sizes = (12, 30) if self.tiny else gen.VendorUniverse.CITY_SIZES
        self.universe = gen.VendorUniverse(self.seed, sizes)
        here = os.path.dirname(os.path.abspath(__file__))
        self.api = subprocess.Popen(
            [sys.executable, os.path.join(here, "vendor_api.py"),
             "--seed", str(self.seed),
             "--sizes", ",".join(map(str, sizes))],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.api.stdout.readline().split()
        if line[:1] != ["READY"]:
            raise RuntimeError("vendor API did not start")
        self.port = int(line[1])
        self.passes = 0
        # a seed-chosen day, so partition values vary with the seed
        self.started_at = self.STARTED_AT + (self.seed % 365) * 86_400
        self.completed_at = self.started_at + 600
        self.expected = self.universe.expected_rows(self.started_at, self.completed_at)
        self.expected_digest = vendor_digest(self.expected)
        return {
            "cities": len(self.universe.cities),
            "vendors": self.universe.n_vendors(),
            "degraded_vendors": sum(1 for r in self.expected if r[3] is None),
        }

    def start(self, spark) -> None:
        super().start(spark)
        from food_panda_etl_spark.sources import register_vendor_list_source

        register_vendor_list_source(spark)

    def _spec(self, pass_id: str) -> str:
        return (
            "food_panda_etl_spark.sources.http_backend:HttpVendorBackend"
            f"?base_url=http://127.0.0.1:{self.port}/{pass_id}&base_delay_s=0.002"
        )

    def _next_pass(self) -> tuple[str, str]:
        self.passes += 1
        pass_id = f"p{self.passes}"
        return pass_id, os.path.join(self.work, f"lake-{pass_id}")

    def _codes(self, spec):
        return (
            self.spark.read.format("vendor_list")
            .option("cities", ",".join(self.universe.cities))
            .option("backend", spec)
            .load()
            .select("city_id", "code")
        )

    def execute(self, key, tracer):
        from food_panda_etl_spark.sinks import write_partitioned_vendors
        from food_panda_etl_spark.sources import lookup_vendor_payloads, split_payloads
        from food_panda_etl_spark.vendor import enrich_vendors

        pass_id, lake = self._next_pass()
        spec = self._spec(pass_id)
        with tracer.span("vendor_etl.build"):
            codes = self._codes(spec)
            details, reviews, ratings = split_payloads(lookup_vendor_payloads(codes, backend_spec=spec))
            vendors = enrich_vendors(
                codes, details, reviews, ratings,
                started_at=self.started_at, completed_at=self.completed_at,
            )
        with tracer.span("vendor_etl.execute"):
            write_partitioned_vendors(vendors, lake)
            landed = self.spark.read.parquet(lake).count()
        return landed, (pass_id, lake)

    def verify(self, key, payload) -> bool:
        pass_id, lake = payload
        rows = self.spark.read.parquet(lake).select(
            "city_id", "code", "name", "details", "batch_number", "reviews", "ratings",
            "extraction_started_at", "extraction_completed_at",
        ).collect()
        self.last_lake = lake_layout(lake)
        self.last_lake["degraded"] = sum(1 for r in rows if r["details"] is None)
        self.last_pass = pass_id
        shutil.rmtree(lake, ignore_errors=True)
        return vendor_digest([(str(r[0]),) + tuple(r[1:]) for r in rows]) == self.expected_digest

    def staged(self, key, tracer) -> bool:
        from food_panda_etl_spark.sinks import write_partitioned_vendors
        from food_panda_etl_spark.sources import lookup_vendor_payloads, split_payloads
        from food_panda_etl_spark.vendor import enrich_vendors

        pass_id, lake = self._next_pass()
        spec = self._spec(pass_id)
        with tracer.span("sources.plan"):
            codes_df = self._codes(spec)
            codes_df._jdf.queryExecution().executedPlan()  # runs the page-0 probe
        with tracer.span("sources.scan"):
            codes = codes_df.localCheckpoint(eager=True)
        with tracer.span("sources.lookup"):
            looked = lookup_vendor_payloads(codes, backend_spec=spec).localCheckpoint(eager=True)
        details, reviews, ratings = split_payloads(looked)
        with tracer.span("vendor.enrich"):
            enriched = enrich_vendors(
                codes, details, reviews, ratings,
                started_at=self.started_at, completed_at=self.completed_at,
            )
            materialized = enriched.localCheckpoint(eager=True)
        self.counters["vendor.enrich_exchanges"] = final_plan_exchanges(enriched)
        with tracer.span("sinks.write"):
            write_partitioned_vendors(materialized, lake)
        with tracer.span("sinks.readback"):
            self.spark.read.parquet(lake).count()
        return self.verify(key, (pass_id, lake))

    def inspect(self, key, payload) -> None:
        self.ref_pass, self.ref_lake = self.last_pass, self.last_lake

    def api_stats(self) -> dict:
        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}/__stats", timeout=10) as r:
            return json.loads(r.read())

    def layer_metrics(self, ref, staged) -> dict:
        stats = self.api_stats()
        p = stats["passes"].get(self.ref_pass, {"requests": 0, "faults": {}, "bytes": 0, "busy_s": 0.0})
        layout = self.ref_lake
        landed = self.universe.n_vendors()
        return {
            "sources.plan_s": staged.total("sources.plan"),
            "sources.scan_s": staged.total("sources.scan"),
            "sources.lookup_s": staged.total("sources.lookup"),
            "sources.scan_tasks": staged.total("sources.scan", "tasks"),
            "sources.lookup_failures": staged.total("sources.lookup", "failed_tasks"),
            "sources.lookup_degraded": layout["degraded"],
            "sources.api_requests": p["requests"],
            "sources.api_requests_per_vendor": p["requests"] / landed,
            "sources.api_useful_ratio": self.universe.useful_requests() / max(p["requests"], 1),
            "sources.api_faults": sum(p["faults"].values()),
            "sources.api_busy_s": p["busy_s"],
            "sources.api_max_connections": stats["max_open"],
            "vendor.enrich_s": staged.total("vendor.enrich"),
            "sinks.write_s": staged.total("sinks.write"),
            "sinks.files": layout["files"],
            "sinks.partitions": layout["partitions"],
            "sinks.bytes": layout["bytes"],
            "sinks.bytes_per_vendor": layout["bytes"] / landed,
        }

    def close(self) -> None:
        api = getattr(self, "api", None)
        if api is not None and api.poll() is None:
            api.terminate()
            try:
                api.wait(timeout=10)
            except subprocess.TimeoutExpired:
                api.kill()
                api.wait(timeout=10)


def vendor_digest(rows: list[tuple]) -> str:
    """Digest of vendor lake rows, columns as in ``VendorUniverse.expected_rows``."""
    cols = ["city_id", "code", "name", "details", "batch_number", "reviews", "ratings",
            "extraction_started_at", "extraction_completed_at"]
    return digest(cols, rows)


def lake_layout(path: str) -> dict:
    """Parquet files, their bytes and the leaf partitions under ``path``."""
    files = nbytes = 0
    partitions = set()
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
                partitions.add(root)
    return {"files": files, "bytes": nbytes, "partitions": len(partitions)}


WORKLOADS = {w.name: w for w in (VendorEtl, LlmCuration, LakeQueries)}
