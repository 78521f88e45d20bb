"""Output checks, run once per run outside every timed region.

- Oracled registry queries are compared with their DuckDB oracle the way
  ``tests/test_oracle_parity.py`` does: same columns, same row count,
  same values after normalisation (sorted rows, 6-decimal floats). The
  normalisation is restated here rather than imported: the test module
  builds the registry and pulls in pytest fixtures at import.
- Oracle-less operators and the graph pipeline are checked against
  counts the generator knows.

Every check is one attempted operation; a mismatch is one failed
operation and makes the run exit non-zero.
"""

from __future__ import annotations

import decimal
import math
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _canon(v) -> str:
    if type(v).__name__ == "ndarray":
        v = list(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.6f}"
    return str(v)


def normalize(rows, cols) -> list[tuple]:
    """Columns sorted by name, values canonicalised, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in idx) for r in rows)


def oracle(h, frames: dict, sf_dir: str) -> None:
    """Compare each built frame that has a registry oracle with DuckDB
    running that oracle on the same parquet files. DuckDB works in a
    background thread while Spark collects, so the two overlap."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb
    from procoggraph_spark.queries import registry

    _, oracles = registry()
    names = [n for n in frames if n in oracles]
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.environ.get('SPARK_GRAFT_CPUS', '1')}")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            expected = {n: pool.submit(lambda sql=oracles[n]: con.sql(sql).df()) for n in names}
            for name in names:
                try:
                    spdf = frames[name].toPandas()
                    pdf = expected[name].result()
                except Exception as exc:
                    h.check(name, False, f"{type(exc).__name__}: {str(exc)[:200]}")
                    continue
                s_rows = list(spdf.itertuples(index=False, name=None))
                d_rows = list(pdf.itertuples(index=False, name=None))
                if sorted(spdf.columns) != sorted(pdf.columns):
                    h.check(name, False, f"columns {list(spdf.columns)} vs {list(pdf.columns)}")
                elif len(s_rows) != len(d_rows):
                    h.check(name, False, f"rows {len(s_rows)} vs {len(d_rows)}")
                else:
                    sn = normalize(s_rows, list(spdf.columns))
                    dn = normalize(d_rows, list(pdf.columns))
                    h.check(name, sn == dn, "values differ from the DuckDB oracle")
    finally:
        con.close()


def minhash_pairs(h, frame, truth: dict) -> None:
    """MinHash of identical shingle sets is identical, so every planted
    exact-copy pair is a candidate in every band and estimates 1.0."""
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in frame.collect()}
    want = [(a, b) for g in truth["dup_groups"] for i, a in enumerate(g) for b in g[i + 1:]]
    missing = [p for p in want if pairs.get(p) != 1.0]
    h.check("dedup_minhash_lsh planted pairs", not missing, f"missing {missing[:5]}")


def clusters(h, frame, truth: dict) -> None:
    """Connected-components invariants for dedup_cluster_canonical: one
    row per slice doc; each planted group in one cluster whose canonical
    is the cluster's min id and whose size is its row count."""
    rows = frame.collect()
    canon = {r["doc_id"]: r["canonical_id"] for r in rows}
    sizes: dict[int, int] = {}
    for c in canon.values():
        sizes[c] = sizes.get(c, 0) + 1
    ok = (
        len(rows) == len(canon) == truth["slice_docs"]
        and all(canon[c] == c for c in sizes)
        and all(canon[d] <= d for d in canon)
        and all(len({canon[d] for d in g}) == 1 for g in truth["dup_groups"])
        and all(r["cluster_size"] == sizes[r["canonical_id"]] for r in rows)
    )
    h.check("dedup_cluster_canonical invariants", ok, "cluster invariants violated")


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def graph(h, out: str, g, truth: dict) -> None:
    from procoggraph_spark.graph import queries as Q

    q1 = {r["entity"]: r["n"] for r in Q.q1_summary_counts(g).collect()}
    want = {"entries": truth["entries"], "boundEntities": truth["bound_entities"],
            "cognateLigands": truth["cognate_ligands"], "domains": truth["domains"]}
    h.check("q1 summary counts", q1 == want, f"{q1} vs {want}")
    counts = {"entry": truth["entries"], "boundEntity": truth["bound_entities"],
              "cognateLigand": truth["cognate_ligands"]}
    for name, n in counts.items():
        got = g.nodes[name].count()
        h.check(f"{name} node count", got == n, f"{got} vs {n}")
    ends = (
        ("INTERACTS_WITH_LIGAND", "uniqueID", "boundEntity", "uniqueID"),
        ("INTERACTS_WITH_LIGAND", "domain", "domain", "domain"),
        ("HAS_SIMILARITY", "uniqueID", "boundEntity", "uniqueID"),
        ("HAS_SIMILARITY", "cognateLigand", "cognateLigand", "uniqueID"),
        ("DESCRIBED_BY", "ligandEntityID", "boundDescriptor", "ligandEntityID"),
    )
    for edge, col, node, key in ends:
        e = g.edges[edge].select(F.col(col).alias("k"))
        n = g.nodes[node].select(F.col(key).alias("k"))
        dangling = e.join(n, "k", "left_anti").count()
        h.check(f"{edge}.{col} endpoints", dangling == 0, f"{dangling} dangling")
    h.check("HAS_SIMILARITY non-empty", g.edges["HAS_SIMILARITY"].count() > 0, "no edges")
    cached = parquet_rows(os.path.join(out, "parity_cache"))
    h.check("parity cache rows", cached == truth["distinct_pairs"],
            f"{cached} vs {truth['distinct_pairs']}")
    comp = h.spark.read.parquet(os.path.join(out, "clusters"))
    n_comp = comp.select("component").distinct().count()
    h.check("interaction clusters", n_comp == truth["clusters"],
            f"{n_comp} vs {truth['clusters']} components")
    split = (
        g.edges["INTERACTS_WITH_LIGAND"]
        .join(comp.select(F.col("id").alias("domain"), F.col("component").alias("c1")), "domain")
        .join(comp.select(F.col("id").alias("uniqueID"), F.col("component").alias("c2")),
              "uniqueID")
        .filter(F.col("c1") != F.col("c2")).count()
    )
    h.check("interaction cluster edges", split == 0, f"{split} edges span two clusters")
