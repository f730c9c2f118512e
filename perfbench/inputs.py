"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed): the edit history
comes from ``corhist_spark.fixtures.generate_corpus``, the documents and
the sameAs graph from the generators below, the online feed's
corrections from the reference oracle.  Tables are written once per
seed as parquet (constraints as JSON lines, like ``corhist_spark.cli``
expects) under ``<work>/inputs/<workload>-<seed>/`` and reused by later
runs with the same seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from corhist_spark import oracle
from corhist_spark import schemas as S
from corhist_spark.fixtures import HOT_ENTITY, generate_corpus

KG_HISTORY_SCALE = 30
KG_DOCUMENTS = 12_000
KG_CHAINS = 150
KG_CHAIN_MAX = 64
KG_HUB_SPOKES = 2_000

FEED_HISTORY_SCALE = 120
FEED_HELD_OUT = 0.5
FEED_VALIDATION = 0.1
FEED_FILE_ROWS = 25

_DONE = "_COMPLETE"


def _arrow_type(t: T.DataType) -> pa.DataType:
    if isinstance(t, T.StringType):
        return pa.string()
    if isinstance(t, T.LongType):
        return pa.int64()
    if isinstance(t, T.IntegerType):
        return pa.int32()
    if isinstance(t, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(t, T.ArrayType):
        return pa.list_(_arrow_type(t.elementType))
    if isinstance(t, T.StructType):
        return pa.struct([_arrow_field(f) for f in t.fields])
    if isinstance(t, T.MapType):
        return pa.map_(_arrow_type(t.keyType), _arrow_type(t.valueType))
    raise TypeError(f"no arrow mapping for {t}")


def _arrow_field(f: T.StructField) -> pa.Field:
    return pa.field(f.name, _arrow_type(f.dataType), nullable=f.nullable)


def arrow_schema(schema: T.StructType) -> pa.Schema:
    return pa.schema([_arrow_field(f) for f in schema.fields])


def _records(pdf) -> list[dict]:
    """pandas rows -> plain Python values (nullable ints come back as
    float NaN from pandas, timestamps as pd.Timestamp)."""
    rows = pdf.to_dict("records")
    for row in rows:
        for k, v in row.items():
            if isinstance(v, float):
                row[k] = None if v != v else int(v)
            elif hasattr(v, "to_pydatetime"):
                row[k] = v.to_pydatetime()
    return rows


def write_table(path: str, rows: list[dict], schema: T.StructType) -> None:
    table = pa.Table.from_pylist(rows, schema=arrow_schema(schema))
    pq.write_table(table, path)


def write_constraints(path: str, constraints: list[dict]) -> None:
    with open(path, "w") as f:
        for c in constraints:
            f.write(json.dumps(c, sort_keys=True) + "\n")


def sameas_graph(rng: random.Random, n_chains: int, chain_max: int, hub_spokes: int) -> list[tuple[str, str]]:
    """Long chains plus one hub component.  Node ids share one width so
    string order is numeric order; each chain's minimum sits at its far
    end, so min-label propagation needs several rounds to converge."""
    edges = []
    node = 1_000_000
    for _ in range(n_chains):
        length = rng.randint(8, chain_max)
        ids = [f"Q{node + j}" for j in range(length)]
        node += length
        ids.reverse()
        edges.extend(zip(ids, ids[1:]))
    hub = f"Q{node}"
    for j in range(1, hub_spokes + 1):
        edges.append((hub, f"Q{node + j}"))
    edges.append((HOT_ENTITY, hub))
    rng.shuffle(edges)
    return edges


def documents(rng: random.Random, n_docs: int, entities: list[str], props: list[str]) -> list[dict]:
    """Interleaved text/media documents shaped like the fixture corpus:
    1-12 spans each, text spans mention three entities and one property
    cue, ~5% of documents mention the hot entity once more."""
    docs = []
    for d in range(n_docs):
        spans, offset = [], 0
        for s_i in range(1 + rng.randrange(12)):
            kind = rng.choices(["text", "image", "audio", "table"], [0.7, 0.15, 0.1, 0.05])[0]
            if kind == "text":
                ments = rng.sample(entities, k=3)
                txt = f"span {d}-{s_i} mentions {' and '.join(ments)} via {rng.choice(props)} ."
                spans.append({"kind": "text", "text": txt, "media_ref": "", "offset": offset})
                offset += len(txt)
            else:
                spans.append(
                    {"kind": kind, "text": "", "media_ref": f"media://{kind}/{d}/{s_i}", "offset": offset}
                )
                offset += 1
        if rng.random() < 0.05:
            spans.append({"kind": "text", "text": f"hot mention {HOT_ENTITY} .", "media_ref": "", "offset": offset})
        docs.append({"doc_id": f"d{d}", "spans": spans})
    return docs


def oracle_corrections(revisions: list[dict], edits: list[dict], constraints: list[dict]) -> list[dict]:
    """Corrections dataset of the reference semantics, as CORRECTIONS rows
    in a deterministic order."""
    h = oracle.History(revisions, edits)
    out = []
    for c in constraints:
        for corr in oracle.find_corrections(h, c):
            out.append(
                {
                    "constraint_id": corr.constraint_id,
                    "corr_rev": corr.corr_rev,
                    "target_subj": corr.target_subj,
                    "target_pred": corr.target_pred,
                    "target_obj": corr.target_obj,
                    "correction": [
                        {"subj": s, "pred": p, "obj": o, "op": op} for s, p, o, op in sorted(corr.correction)
                    ],
                }
            )
    out.sort(key=lambda r: json.dumps(r, sort_keys=True))  # total order, whatever the oracle's set order
    return out


def _history(seed: int, scale: int):
    corpus = generate_corpus(seed=seed, scale=scale)
    constraints = corpus["constraints"].to_dict("records")
    return _records(corpus["revisions"]), _records(corpus["edits"]), constraints


def _gen_kg_ingest(d: str, seed: int) -> None:
    rng = random.Random(seed * 1_000_003 + 1)
    revisions, edits, constraints = _history(seed, KG_HISTORY_SCALE)
    edges = sameas_graph(rng, KG_CHAINS, KG_CHAIN_MAX, KG_HUB_SPOKES)
    graph_nodes = sorted({n for e in edges for n in e})
    history_entities = sorted({r["entity"] for r in revisions})
    entities = history_entities + rng.sample(graph_nodes, k=min(len(graph_nodes), 2 * len(history_entities)))
    props = [c["property"] for c in constraints]
    write_table(os.path.join(d, "revisions.parquet"), revisions, S.REVISIONS)
    write_table(os.path.join(d, "edits.parquet"), edits, S.EDITS)
    write_table(
        os.path.join(d, "sameas.parquet"), [{"src": a, "dst": b} for a, b in edges], S.SAMEAS_EDGES
    )
    write_table(
        os.path.join(d, "documents.parquet"), documents(rng, KG_DOCUMENTS, entities, props), S.DOCUMENTS
    )
    write_constraints(os.path.join(d, "constraints.jsonl"), constraints)
    corr = oracle_corrections(revisions, edits, constraints)
    write_table(os.path.join(d, "oracle_corrections.parquet"), corr, S.CORRECTIONS)


def _gen_online_feed(d: str, seed: int) -> None:
    rng = random.Random(seed * 1_000_003 + 2)
    revisions, edits, constraints = _history(seed, FEED_HISTORY_SCALE)
    corr = oracle_corrections(revisions, edits, constraints)
    rng.shuffle(corr)
    n_held = int(len(corr) * FEED_HELD_OUT)
    n_val = int(len(corr) * FEED_VALIDATION)
    held, val, train = corr[:n_held], corr[n_held : n_held + n_val], corr[n_held + n_val :]
    write_table(os.path.join(d, "revisions.parquet"), revisions, S.REVISIONS)
    write_table(os.path.join(d, "edits.parquet"), edits, S.EDITS)
    write_table(os.path.join(d, "train.parquet"), train, S.CORRECTIONS)
    write_table(os.path.join(d, "validation.parquet"), val, S.CORRECTIONS)
    write_constraints(os.path.join(d, "constraints.jsonl"), constraints)
    feed = os.path.join(d, "feed")
    os.makedirs(feed)
    for i in range(0, len(held), FEED_FILE_ROWS):
        write_table(os.path.join(feed, f"part-{i // FEED_FILE_ROWS:05d}.parquet"), held[i : i + FEED_FILE_ROWS], S.CORRECTIONS)


GENERATORS = {"kg_ingest": _gen_kg_ingest, "online_feed": _gen_online_feed}


def ensure_inputs(work: str, workload: str, seed: int) -> str:
    """Generate the inputs of (workload, seed) unless a complete copy
    made by this version of the generators exists; returns their
    directory."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(work, "inputs", f"{workload}-{seed}-{version}")
    if os.path.exists(os.path.join(d, _DONE)):
        return d
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed)
    open(os.path.join(tmp, _DONE), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def table_digest(path: str) -> str:
    """Order-independent digest of a parquet file or directory: sha256
    over the sorted per-row hashes."""
    rows = pq.read_table(path).to_pylist()
    hashes = sorted(hashlib.sha256(json.dumps(r, sort_keys=True, default=str).encode()).hexdigest() for r in rows)
    return hashlib.sha256("".join(hashes).encode()).hexdigest()


def input_digests(d: str) -> dict[str, str]:
    """Digest of every generated input file of one input directory."""
    out = {}
    for root, _, files in os.walk(d):
        for fn in sorted(files):
            p = os.path.join(root, fn)
            rel = os.path.relpath(p, d)
            if fn.endswith(".parquet"):
                out[rel] = table_digest(p)
            elif fn.endswith(".jsonl"):
                with open(p, "rb") as f:
                    out[rel] = hashlib.sha256(f.read()).hexdigest()
    return out
