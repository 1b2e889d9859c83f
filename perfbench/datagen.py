"""Seeded input generators for the benchmark workloads.

Every table has the schema the registered queries read (FIXTURES.md §2):
a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``. Values are drawn independently and uniformly from the
same domains as the repository's reference tiers, so the same seed
always writes byte-identical parquet files and the program only ever
sees the generated files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from etl_file_sync_spark.catalog import TABLES

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 100, n)
    ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(WORDS[i] for i in ids[pos : pos + k]))
        pos += k
    return out


def _unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _embedding_column(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, EMBED_DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write all ten tables at scale ``sf`` (lineitem = 6M x sf rows).

    Returns the row count of each table.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pkeys,
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })
    write_corpus(out_dir, seed, n_doc, n_emb)
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_evt, "documents": n_doc, "embeddings": n_emb,
    }


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write only ``documents`` and ``embeddings``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    texts = _doc_texts(rng, n_docs)
    write_documents(out_dir, np.arange(n_docs, dtype=np.int64), texts, _pick(rng, LANGS, n_docs, LANG_P))
    write_embeddings(out_dir, np.arange(n_vecs, dtype=np.int64), _unit_vectors(rng, n_vecs),
                     rng.integers(0, 10, n_vecs))


def write_documents(out_dir: str, doc_ids: np.ndarray, texts: list[str], langs: list[str]) -> None:
    _write(out_dir, "documents", {
        "doc_id": doc_ids,
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in doc_ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_embeddings(out_dir: str, vec_ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> None:
    _write(out_dir, "embeddings", {
        "vec_id": vec_ids,
        "embedding": _embedding_column(vecs),
        "label": pa.array(labels, pa.int32()),
    })


def plant_duplicates(base_dir: str, out_dir: str, seed: int, factor: int = 3) -> dict[str, int]:
    """Replicate ``documents``/``embeddings`` of ``base_dir`` ``factor``x.

    Replica 0 of each row is the original. Every other replica is, by a
    seeded draw, an exact copy (half of them) or a near copy: a document
    with one token replaced and one appended, an embedding with small
    seeded noise, renormalised. Ids are ``id * factor + replica``.
    Any other table in ``base_dir`` is linked unchanged.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet")).to_pydict()
    ids, texts, langs, near = [], [], [], 0
    for doc_id, text, lang in zip(docs["doc_id"], docs["text"], docs["lang"]):
        for rep in range(factor):
            if rep and rng.random() >= 0.5:
                toks = text.split()
                toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
                toks.append(f"v{rep}")
                text_r, near = " ".join(toks), near + 1
            else:
                text_r = text
            ids.append(doc_id * factor + rep)
            texts.append(text_r)
            langs.append(lang)
    write_documents(out_dir, np.array(ids, dtype=np.int64), texts, langs)

    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    reps = np.repeat(vecs, factor, axis=0)
    noisy = (np.arange(len(reps)) % factor != 0) & (rng.random(len(reps)) < 0.5)
    reps[noisy] += rng.normal(0.0, 0.02, (int(noisy.sum()), EMBED_DIM)).astype(np.float32)
    reps /= np.linalg.norm(reps, axis=1, keepdims=True)
    vec_ids = np.repeat(emb.column("vec_id").to_numpy() * factor, factor) + np.tile(np.arange(factor), len(vecs))
    write_embeddings(out_dir, vec_ids, reps, np.repeat(emb.column("label").to_numpy(), factor))

    for t in TABLES:
        src, dst = os.path.join(base_dir, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet")
        if t not in ("documents", "embeddings") and os.path.exists(src) and not os.path.exists(dst):
            os.link(src, dst)
    return {"documents": len(ids), "embeddings": len(reps), "near_documents": near}


# ---- transfer jobs ----------------------------------------------------------

# Faulty job classes of FIXTURES.md §1.1, with the error each must reach
# the DLQ with (prefix of the envelope's ``error``).
FAULTS = {
    "not_json": "parse_error",
    "no_source": "missing_field",
    "no_destination": "missing_field",
    "no_hostname": "missing_field",
    "unknown_host": "unknown_server",
    "missing_file": "FileNotFoundError",
}
FAULTY_SHARE = 0.2
NO_JOB_ID_SHARE = 0.2
EXTRA_FIELDS_SHARE = 0.1
FILE_BYTES = 1024


def write_source_files(src_dir: str, seed: int, n: int) -> list[str]:
    """``n`` files of FILE_BYTES seeded random bytes; returns their paths."""
    os.makedirs(src_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    paths = []
    for i in range(n):
        path = os.path.join(src_dir, f"f{i:05d}.bin")
        with open(path, "wb") as fh:
            fh.write(rng.bytes(FILE_BYTES))
        paths.append(path)
    return paths


def make_jobs(
    rng: np.random.Generator, tag: str, n: int, sources: list[str], dst_dir: str,
    src_host: str, dst_host: str,
) -> list[tuple[str, dict]]:
    """``n`` job messages and what each must produce.

    Returns ``(line, expect)`` pairs. ``expect`` is ``{"key", "src",
    "dst"}`` for a job that must land at ``dst`` with the bytes of
    ``src``, or ``{"key", "error"}`` for one that must reach the DLQ once
    with that error class. ``key`` is the job's ``job_id``, or its
    destination path when the job carries no id.
    """
    out = []
    faults = list(FAULTS)
    for i in range(n):
        job_id = f"{tag}-{i:06d}"
        src = sources[int(rng.integers(0, len(sources)))]
        dst = os.path.join(dst_dir, f"{i // 100:04d}", f"{job_id}.bin")
        s_host = src_host.lower() if rng.random() < 0.1 else src_host
        job = {
            "job_id": job_id,
            "source": {"hostname": s_host, "path": src},
            "destination": {"hostname": dst_host, "path": dst},
        }
        if rng.random() < FAULTY_SHARE:
            kind = faults[int(rng.integers(0, len(faults)))]
            if kind == "not_json":
                out.append((f"not json {job_id}", {"key": job_id, "error": FAULTS[kind]}))
                continue
            if kind == "no_source":
                del job["source"]
            elif kind == "no_destination":
                del job["destination"]
            elif kind == "no_hostname":
                del job["source" if rng.random() < 0.5 else "destination"]["hostname"]
            elif kind == "unknown_host":
                job["source"]["hostname"] = "UNKNOWN_SERVER"
            else:
                job["source"]["path"] = src + ".missing"
            out.append((json.dumps(job), {"key": job_id, "error": FAULTS[kind]}))
            continue
        if rng.random() < NO_JOB_ID_SHARE:
            del job["job_id"]
        if rng.random() < EXTRA_FIELDS_SHARE:
            job["priority"] = int(rng.integers(0, 10))
            job["meta"] = {"owner": "perfbench", "attempt": 1}
        out.append((json.dumps(job), {"key": job.get("job_id", dst), "src": src, "dst": dst}))
    return out


def write_manifest(path: str, lines: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
