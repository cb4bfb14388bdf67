"""The benchmark's workloads: seeded inputs, one job each, and its check.

Each workload calls the package through module attributes
(``pipeline.extract_data``, ``dedup.near_dedup_minhash``, ...), the same
names the traced run wraps, and touches no package internals. A job's
output is checked after its timer stops; the check's own Spark reads are
outside the timed region and outside every traced span.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os
import re
from collections import Counter

import inputs


def _sha256_files(paths: list[str], extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for p in paths:
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:32]


def _duckdb_rows(sql: str, load: str, threads: int, tmp_dir: str) -> list[str]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={threads}")
        con.execute(f"SET temp_directory='{tmp_dir}'")
        con.execute(load)
        return [r[0] for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def _cached(cache_dir: str, key: str, compute):
    """Expected result memoised on disk by a key that hashes the generated
    input bytes and the oracle text, so a stale entry can never match."""
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def read_csv_column(out_dir: str) -> list[str]:
    """First column of every part file of a headered Spark CSV output."""
    rows: list[str] = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part, newline="") as f:
            reader = csv.reader(f)
            next(reader, None)
            rows.extend(r[0] for r in reader if r)
    return rows


_FIELD = re.compile(r"([A-Za-z_][A-Za-z0-9_ ]*)=")


def insight_key_sets(lines: list[str]) -> int:
    """Distinct column sets among insight strings: the sweep's sets that
    produced at least one row above the support threshold."""
    return len({tuple(_FIELD.findall(line)) for line in lines})


class Workload:
    """One benchmark workload. ``make_inputs`` writes the seeded inputs,
    ``expected`` computes the reference answer (cached per input bytes),
    ``job`` runs one timed job and returns what ``check`` inspects."""

    name = ""

    def __init__(self, work_dir: str, seed: int, scale: float = 1.0):
        self.work_dir = work_dir
        self.seed = seed
        self.scale = scale
        self.in_dir = os.path.join(work_dir, "in")
        self.out_dir = os.path.join(work_dir, "out")

    def make_inputs(self) -> None:
        raise NotImplementedError

    def expected(self, cache_dir: str, threads: int):
        raise NotImplementedError

    def job(self, spark, i: int):
        raise NotImplementedError

    def collect(self, spark, handle):
        """Turn ``job``'s return value into plain Python data (untimed)."""
        return handle

    def check(self, got, expected) -> list[str]:
        """Problems found in ``got``; empty when the output is correct."""
        raise NotImplementedError

    def layer_facts(self, got) -> dict[str, float]:
        """Per-layer counts read off a checked output, for traced runs."""
        return {}

    def describe(self) -> dict:
        raise NotImplementedError


class PipelineCsv(Workload):
    """The paper's job as users run it: ``pipeline.extract_data`` over a
    headered lineitem CSV read with schema inference, 6 swept columns."""

    name = "pipeline_csv"
    rows = 600_000

    def _n(self) -> int:
        return max(1_000, int(self.rows * self.scale))

    @property
    def csv_path(self) -> str:
        return os.path.join(self.in_dir, "lineitem.csv")

    def make_inputs(self) -> None:
        inputs.write_csv(inputs.lineitem_table(self.seed, self._n()), self.csv_path)

    def expected(self, cache_dir: str, threads: int) -> list[str]:
        from app_insights_generator_spark.queries.insights_queries import _LI_SWEEP_ORACLE

        key = _sha256_files([self.csv_path], _LI_SWEEP_ORACLE)
        load = f"CREATE TABLE lineitem AS SELECT * FROM read_csv('{self.csv_path}', header=true)"
        return _cached(
            cache_dir,
            f"{self.name}-{key}",
            lambda: sorted(_duckdb_rows(_LI_SWEEP_ORACLE, load, threads, self.work_dir)),
        )

    def job(self, spark, i: int):
        from app_insights_generator_spark import pipeline
        from app_insights_generator_spark.queries.insights_queries import LINEITEM_CFG

        out = os.path.join(self.out_dir, "insights")
        pipeline.extract_data(spark, self.csv_path, out, LINEITEM_CFG, mode="native")
        return out

    def collect(self, spark, handle) -> list[str]:
        return read_csv_column(handle)

    def check(self, got: list[str], expected: list[str]) -> list[str]:
        if Counter(got) != Counter(expected):
            return [f"insights differ from the DuckDB oracle: {len(got)} rows vs {len(expected)}"]
        return []

    def layer_facts(self, got: list[str]) -> dict[str, float]:
        return {"operators.sweep.sets_survived": insight_key_sets(got)}

    def describe(self) -> dict:
        return {"rows": self._n(), "format": "csv", "swept_columns": 6, "grouping_sets": 63}


class SweepWide(Workload):
    """The registered ``insights_sweep_lineitem_wide`` query: Apriori
    level-wise sweep over 10 columns (1,023 candidate sets) on parquet."""

    name = "sweep_wide"
    rows = 22_000

    def _n(self) -> int:
        # Not scaled: below about 19,600 distinct tuples the sweep leaves
        # the Apriori level path for its one-cube bailout, another engine.
        return self.rows

    @property
    def parquet_path(self) -> str:
        return os.path.join(self.in_dir, "lineitem.parquet")

    def make_inputs(self) -> None:
        table = inputs.lineitem_table(self.seed, self._n()).drop_columns(["l_shipyear"])
        inputs.write_parquet(table, self.parquet_path)

    def expected(self, cache_dir: str, threads: int) -> list[str]:
        from app_insights_generator_spark.queries.insights_queries import _WIDE_ORACLE

        key = _sha256_files([self.parquet_path], _WIDE_ORACLE)
        load = f"CREATE TABLE lineitem AS SELECT * FROM read_parquet('{self.parquet_path}')"
        return _cached(
            cache_dir,
            f"{self.name}-{key}",
            lambda: sorted(_duckdb_rows(_WIDE_ORACLE, load, threads, self.work_dir)),
        )

    def job(self, spark, i: int) -> list[str]:
        from app_insights_generator_spark.queries import QUERIES

        df = QUERIES["insights_sweep_lineitem_wide"](spark, self.in_dir)
        return [r[0] for r in df.collect()]

    def check(self, got: list[str], expected: list[str]) -> list[str]:
        if Counter(got) != Counter(expected):
            return [f"insights differ from the DuckDB oracle: {len(got)} rows vs {len(expected)}"]
        return []

    def layer_facts(self, got: list[str]) -> dict[str, float]:
        return {"operators.sweep.sets_survived": insight_key_sets(got)}

    def describe(self) -> dict:
        return {"rows": self._n(), "format": "parquet", "swept_columns": 10, "grouping_sets": 1023}


def _shingles(text: str, n: int = 3) -> frozenset[str]:
    """Word n-gram set of the normalised text, written independently of
    the package (lower-case, split on whitespace); a document of at most
    ``n`` words is one shingle."""
    toks = text.lower().split()
    if len(toks) <= n:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))


def _union_find_components(ids: list[int], pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # Roots are the minimum id of their set: a union always keeps the smaller root.
    return {i: find(i) for i in ids}


class DedupCorpus(Workload):
    """Near-duplicate curation of a text corpus: MinHash/LSH pairs with
    exact-Jaccard verification, connected components over the pairs, one
    document kept per component, curated corpus written as parquet."""

    name = "dedup_corpus"
    docs = 5_000
    threshold = 0.5

    def _n(self) -> int:
        return max(200, int(self.docs * self.scale))

    @property
    def parquet_path(self) -> str:
        return os.path.join(self.in_dir, "documents.parquet")

    def make_inputs(self) -> None:
        table, planted = inputs.documents_table(self.seed, self._n())
        inputs.write_parquet(table, self.parquet_path)
        self._texts = table.column("text").to_pylist()
        self._planted = planted

    def expected(self, cache_dir: str, threads: int) -> dict:
        # The exact all-pairs oracle is O(n^2); the check verifies
        # invariants against the generated texts instead.
        return {
            "texts": self._texts,
            "shingles": [_shingles(t) for t in self._texts],
            "planted": self._planted,
        }

    def job(self, spark, i: int):
        from pyspark.sql import functions as F

        from app_insights_generator_spark.operators import dedup
        from app_insights_generator_spark.sources import readers, writers

        docs = readers.load_table(spark, self.in_dir, "documents")
        pairs = dedup.near_dedup_minhash(
            docs, "doc_id", "text", shingle_n=3, threshold=self.threshold
        )
        comps = dedup.connected_components(pairs, docs, "doc_id")
        keep = comps.filter(F.col("doc_id") == F.col("component")).select("doc_id")
        out = os.path.join(self.out_dir, "curated")
        writers.write_parquet(docs.join(keep, "doc_id"), out)
        return pairs, comps, out

    def collect(self, spark, handle) -> dict:
        import pyarrow.parquet as pq

        pairs, comps, out = handle
        curated = pq.read_table(out, columns=["doc_id", "text"])
        return {
            "pairs": [(r[0], r[1], r[2]) for r in pairs.collect()],
            "components": {r[0]: r[1] for r in comps.collect()},
            "curated": dict(zip(curated.column("doc_id").to_pylist(), curated.column("text").to_pylist())),
            "curated_rows": curated.num_rows,
        }

    def check(self, got: dict, expected: dict) -> list[str]:
        texts, sh, problems = expected["texts"], expected["shingles"], []
        ids = list(range(len(texts)))
        seen = set()
        for a, b, jac in got["pairs"]:
            if not (0 <= a < b < len(texts)) or (a, b) in seen:
                problems.append(f"bad or repeated pair ({a}, {b})")
                break
            seen.add((a, b))
            exact = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            # The operator reports Jaccard rounded to 4 places.
            if exact + 1e-9 < self.threshold or abs(exact - jac) > 5e-5 + 1e-9:
                problems.append(f"pair ({a}, {b}) has Jaccard {exact:.4f}, reported {jac}")
                break
        want = _union_find_components(ids, [(a, b) for a, b, _ in got["pairs"]])
        if got["components"] != want:
            problems.append("components differ from a union-find over the emitted pairs")
        if any(want[a] != want[b] for a, b in expected["planted"]):
            problems.append("a planted near-duplicate (Jaccard >= 8/9) was not clustered")
        reps = {c for c in want.values()}
        if set(got["curated"]) != reps or got["curated_rows"] != len(reps):
            problems.append(f"curated corpus has {got['curated_rows']} rows for {len(reps)} components")
        elif any(got["curated"][i] != texts[i] for i in reps):
            problems.append("curated corpus text differs from the input")
        return problems

    def layer_facts(self, got: dict) -> dict[str, float]:
        return {"operators.dedup.pairs": len(got["pairs"])}

    def describe(self) -> dict:
        return {"docs": self._n(), "format": "parquet", "planted_duplicates": len(self._planted)}


WORKLOADS = {w.name: w for w in (PipelineCsv, SweepWide, DedupCorpus)}
