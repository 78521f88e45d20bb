"""Seeded input generators for the three benchmark workloads.

Everything here is numpy + pyarrow: no Spark session is needed, the
same seed always writes the same bytes, and the generators report the
counts the correctness checks compare against (row counts, planted
duplicate groups, surviving graph entities). Tables are written like
the reference test data of TESTDATA.md: one parquet file per table,
one row group, so the engine's cold-ingest staging path runs exactly as
it does on real single-file inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the star schema the registry queries read
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
EMB_DIM = 64
# doc ids below this bound are the slice the MinHash / CC registry
# queries read; duplicate groups are planted inside it
NEAR_DUP_SLICE = 150


@dataclass
class Dataset:
    """A generated input directory and what the generator knows about it."""

    path: str
    rows: dict[str, int]
    truth: dict = field(default_factory=dict)

    @property
    def total_rows(self) -> int:
        return sum(self.rows.values())


def _write(path: str, name: str, cols: dict) -> int:
    tbl = pa.table(cols)
    pq.write_table(tbl, os.path.join(path, f"{name}.parquet"),
                   row_group_size=max(1, tbl.num_rows))
    return tbl.num_rows


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, offsets) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    ids = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in ids[pos:pos + k]))
        pos += k
    return out


def _documents(rng, n: int) -> tuple[dict, dict]:
    """Documents with planted duplicates. Inside the near-dup slice the
    last fifth are exact copies of earlier slice docs (the groups are
    returned as truth); outside it ~4% of docs copy an earlier doc, so
    exact dedup has work at every size."""
    texts = _texts(rng, n)
    groups: dict[int, list[int]] = {}
    n_slice = min(n, NEAR_DUP_SLICE)
    n_src = n_slice - n_slice // 5
    for i in range(n_src, n_slice):
        src = int(rng.integers(0, n_src))
        root = next((r for r, g in groups.items() if src in g), src)
        texts[i] = texts[root]
        groups.setdefault(root, [root]).append(i)
    # near-dup partners (one word substituted): LSH candidates that are
    # not exact copies, so pair precision is a real ratio
    for i in rng.choice(np.arange(n_src), size=min(10, n_src), replace=False):
        w = texts[int(i)].split()
        w[len(w) // 2] = WORDS[(WORDS.index(w[len(w) // 2]) + 1) % len(WORDS)]
        j = int(rng.integers(0, n_src))
        if j != i and not any(j in g for g in groups.values()):
            texts[j] = " ".join(w)
    for i in range(NEAR_DUP_SLICE, n):
        if rng.random() < 0.04:
            texts[i] = texts[int(rng.integers(0, i))]
    cols = {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    }
    dup_groups = sorted(sorted(g) for g in groups.values())
    return cols, {"dup_groups": dup_groups, "slice_docs": n_slice}


def _embeddings(rng, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = (centroids[labels] + rng.normal(0.0, 0.8, (n, EMB_DIM))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def star_schema(path: str, seed: int, scale: float) -> Dataset:
    """The registry's star schema at ``scale`` × sf0.1 rows."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(v if k in ("region", "nation") else 1, int(v * scale))
         for k, v in SF01_ROWS.items()}
    rows = {}
    rows["region"] = _write(path, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    rows["nation"] = _write(path, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    c = n["customer"]
    rows["customer"] = _write(path, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": _pick(rng, ("FURNITURE", "MACHINERY", "AUTOMOBILE",
                                    "BUILDING", "HOUSEHOLD"), c),
    })
    s = n["supplier"]
    rows["supplier"] = _write(path, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    adjs = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
    nouns = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring")
    rows["part"] = _write(path, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, p), rng.integers(0, 8, p))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, ("LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"), p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)),
    })
    o = n["orders"]
    rows["orders"] = _write(path, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), o),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, o)),
        "o_orderpriority": _pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"), o),
    })
    li = n["lineitem"]
    rows["lineitem"] = _write(path, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": _pick(rng, ("N", "A", "R"), li),
        "l_linestatus": _pick(rng, ("O", "F"), li),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, li)),
    })
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    rows["events"] = _write(path, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(1500 * scale)), e).astype(np.int64)),
        "event_type": _pick(rng, ("view", "click", "purchase", "signup", "error"), e),
        "value": pa.array(np.round(rng.exponential(40.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    docs, truth = _documents(rng, n["documents"])
    rows["documents"] = _write(path, "documents", docs)
    rows["embeddings"] = _write(path, "embeddings", _embeddings(rng, n["embeddings"]))
    return Dataset(path, rows, truth)


def corpus(path: str, seed: int, scale: float) -> Dataset:
    """The LLM-curation corpus: documents + embeddings at ``scale`` ×
    their sf0.1 row counts."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs, truth = _documents(rng, int(SF01_ROWS["documents"] * scale))
    rows = {
        "documents": _write(path, "documents", docs),
        "embeddings": _write(path, "embeddings",
                             _embeddings(rng, int(SF01_ROWS["embeddings"] * scale))),
    }
    return Dataset(path, rows, truth)


# --- graph_build: atom contacts and the tables the pipeline joins -------

DOMAIN_DBS = ("CATH", "Pfam")
CONTACT_TYPES = ("hbond", "vdw", "covalent", "polar", "aromatic", "ionic")
NON_INTERACTING = ("proximal", "vdw_clash", "clash")


def _domain_acc(rng, db: str) -> str:
    if db == "Pfam":
        return f"PF{int(rng.integers(1, 40)):05d}"
    a, b, c, d = (int(x) for x in rng.integers(1, (4, 4, 5, 6)))
    return f"{a}.{b * 10}.{c * 10}.{d * 10}"


def _smiles(rng) -> str:
    atoms = ("C", "N", "O", "S", "c1ccccc1", "C(=O)", "CC", "OC")
    return "".join(atoms[k] for k in rng.integers(0, len(atoms), int(rng.integers(3, 10))))


def _components(edges) -> int:
    """Connected components of an undirected edge set (union-find)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    return len({find(x) for x in parent})


def contacts(path: str, seed: int, n_entries: int, *, cached_share: float = 0.5) -> Dataset:
    """Atom-level contacts for ``n_entries`` PDB entries plus the
    metadata, cognate-ligand, EC and pre-seeded parity-cache tables the
    graph pipeline joins. The generator replays the pipeline's
    ≥3-residue cutoff, so it knows how many bound entities and domains
    the built graph must hold."""
    from procoggraph_spark.functions.chem import PARITY_RESULT_SCHEMA, score_pairs_batch

    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    ecs = sorted({f"{a}.{b}.{c}.{d}" for a, b, c, d in rng.integers(1, (7, 5, 5, 30), (40, 4))})
    chemotypes = [(f"L{k:02d}", _smiles(rng), f"ligand {k}") for k in range(60)]
    atoms: dict[str, list] = {k: [] for k in (
        "pdb_id", "uniqueID", "bound_ligand_struct_asym_id", "ligand_residue",
        "assembly_chain_id_protein", "protein_residue", "protein_inscode",
        "contact_types", "xref_db", "domain_accession")}
    entities: dict[str, list] = {k: [] for k in (
        "uniqueID", "hetCode", "descriptor", "description", "type", "ecList")}
    kept_entities, kept_domains, entries, kept_pairs = set(), set(), set(), set()
    for e in range(n_entries):
        pdb = f"p{e:05d}"
        chains = [chr(65 + k) for k in range(int(rng.integers(1, 3)))]
        doms: dict[str, tuple] = {}
        for ch in chains:
            for _ in range(int(rng.integers(1, 4))):
                db = DOMAIN_DBS[int(rng.integers(0, len(DOMAIN_DBS)))]
                acc = _domain_acc(rng, db)
                doms.setdefault(f"{pdb}:{ch}:{acc}", (ch, db, acc))
        doms = [(*v, k) for k, v in doms.items()]
        chain_ecs = [str(x) for x in rng.choice(ecs, size=int(rng.integers(1, 3)), replace=False)]
        for b in range(int(rng.integers(1, 4))):
            uid = f"{pdb}_bm{b + 1}_{chr(72 + b)}"
            het, smi, desc = chemotypes[int(rng.integers(0, len(chemotypes)))]
            entities["uniqueID"].append(uid)
            entities["hetCode"].append(het)
            entities["descriptor"].append(smi)
            entities["description"].append(desc)
            entities["type"].append("ligand")
            entities["ecList"].append(chain_ecs)
            picks = rng.choice(len(doms), size=min(len(doms), int(rng.integers(1, 4))),
                               replace=False)
            for di in picks:
                ch, db, acc, dacc = doms[int(di)]
                n_res = int(rng.integers(2, 8))
                residues = rng.choice(np.arange(10, 400), size=n_res, replace=False)
                real_residues = 0
                for r in residues:
                    inscode = "A" if rng.random() < 0.05 else None
                    types = [[CONTACT_TYPES[int(k)] for k in
                              rng.choice(len(CONTACT_TYPES), int(rng.integers(1, 3)), replace=False)]
                             for _ in range(int(rng.integers(1, 4)))]
                    if rng.random() < 0.1:
                        types = [[NON_INTERACTING[int(rng.integers(0, 3))]]]
                    else:
                        real_residues += 1
                    for tps in types:
                        atoms["pdb_id"].append(pdb)
                        atoms["uniqueID"].append(uid)
                        atoms["bound_ligand_struct_asym_id"].append(chr(72 + b))
                        atoms["ligand_residue"].append(401 + b)
                        atoms["assembly_chain_id_protein"].append(f"{ch}_1")
                        atoms["protein_residue"].append(int(r))
                        atoms["protein_inscode"].append(inscode)
                        atoms["contact_types"].append(tps)
                        atoms["xref_db"].append(db)
                        atoms["domain_accession"].append(dacc)
                if real_residues >= 3:
                    kept_entities.add(uid)
                    kept_domains.add(dacc)
                    entries.add(pdb)
                    kept_pairs.add((dacc, uid))
    rows = {
        "atom_contacts": _write(path, "atom_contacts", {
            k: pa.array(v, pa.int32() if k in ("ligand_residue", "protein_residue") else None)
            for k, v in atoms.items()}),
        "entities": _write(path, "entities", entities),
    }
    cognate: dict[str, list] = {k: [] for k in (
        "entry", "uniqueID", "canonical_smiles", "compound_name", "ligand_db",
        "compound_reaction", "isCofactor")}
    for cid in range(150):
        smi = _smiles(rng)
        for ec in rng.choice(ecs, size=int(rng.integers(1, 3)), replace=False):
            cognate["entry"].append(str(ec))
            cognate["uniqueID"].append(1000 + cid)
            cognate["canonical_smiles"].append(smi)
            cognate["compound_name"].append(f"compound {cid}")
            cognate["ligand_db"].append(f"KEGG:C{cid:05d}")
            cognate["compound_reaction"].append(f"R{cid:05d}")
            cognate["isCofactor"].append("Cofactor" if cid % 7 == 0 else "N")
    rows["cognate"] = _write(path, "cognate", cognate)
    rows["ec_records"] = _write(path, "ec_records", {
        "TRANSFER": pa.array(ecs), "DE": pa.array([f"enzyme {ec}" for ec in ecs])})

    # distinct (pdb_smiles, cognate_smiles) pairs candidate_pairs will
    # produce: bound descriptors of surviving entities meet cognates on EC
    kept = [i for i, u in enumerate(entities["uniqueID"]) if u in kept_entities]
    cog_by_ec: dict[str, set] = {}
    for ec, smi in zip(cognate["entry"], cognate["canonical_smiles"]):
        cog_by_ec.setdefault(ec, set()).add(smi)
    pairs = sorted({(entities["descriptor"][i], cs)
                    for i in kept for ec in entities["ecList"][i]
                    for cs in cog_by_ec.get(ec, ())})
    cached_idx = rng.choice(len(pairs), size=int(len(pairs) * cached_share), replace=False)
    seeded = score_pairs_batch(pd.DataFrame(
        [pairs[int(i)] for i in sorted(cached_idx)], columns=["pdb_smiles", "cognate_smiles"]))
    cache_dir = os.path.join(path, "parity_cache_seed")
    os.makedirs(cache_dir, exist_ok=True)
    schema = pa.schema([(f.name, pa.string() if f.dataType.typeName() == "string"
                         else pa.float64()) for f in PARITY_RESULT_SCHEMA.fields])
    pq.write_table(pa.Table.from_pandas(seeded, schema=schema, preserve_index=False),
                   os.path.join(cache_dir, "part-00000.parquet"))
    truth = {
        "clusters": _components(kept_pairs),
        "entries": len(entries),
        "bound_entities": len(kept_entities),
        "domains": len(kept_domains),
        "cognate_ligands": 150,
        "distinct_pairs": len(pairs),
        "cached_pairs": len(seeded),
        "pdb_ids": sorted(entries),
        "ecs": ecs,
    }
    return Dataset(path, rows, truth)
