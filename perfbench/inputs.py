"""Seeded input generators for the benchmark workloads.

Every generator is plain numpy + pyarrow, so set-up cost does not depend on
how warm the JVM is, and DuckDB can read the same parquet files for the
output check. The seed changes the generated rows, never their
distribution: rates of nulls, duplicates, orphans and planted near-duplicate
clusters are fixed constants below.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# sourcecode table (same columns and defect kinds as
# dq_suite_amsterdam_spark.sourcecode.build_sourcecode_df)
LANGS = ["python", "java", "go", "js", "rust", "sql", "md", "other"]
_EXTS = ["py", "java", "go", "js", "rs", "sql", "md", "txt"]
N_REPOS = 50

# keys workload: one dimension under the engine's broadcast guard
# (REF_BROADCAST_MAX_KEYS = 1,000,000), one above it
N_PRODUCTS = 5_000
N_CUSTOMERS = 1_200_000
STATUSES = ["new", "paid", "shipped", "returned"]

_FILES = 16  # part files per table: enough scan tasks for local[4..16]


def _write_parts(table: pa.Table, path: str, n_files: int = _FILES) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _hex(rng: np.random.Generator, n: int, n_bytes: int) -> pa.Array:
    """n random lowercase hex strings of 2 * n_bytes characters."""
    raw = np.frombuffer(rng.bytes(n * n_bytes), np.uint8).reshape(n, n_bytes)
    digits = np.frombuffer(b"0123456789abcdef", np.uint8)
    chars = np.empty((n, 2 * n_bytes), np.uint8)
    chars[:, 0::2] = digits[raw >> 4]
    chars[:, 1::2] = digits[raw & 15]
    return pa.array(chars.view(f"S{2 * n_bytes}").ravel()).cast(pa.string())


def _str(values) -> pa.Array:
    return pa.array(values).cast(pa.string())


def write_sourcecode(path: str, n_rows: int, seed: int) -> None:
    """(repo, path, commit, lang, content, content_sha) with ~1% duplicate
    identities, ~2% NULL lang, ~0.3% out-of-set lang, ~0.5% malformed
    commits and ~0.2% corrupted content hashes."""
    rng = np.random.default_rng([seed, 1])
    n = n_rows
    repo_idx = np.where(rng.random(n) < 0.3, 0, rng.integers(1, N_REPOS, n))
    u_lang = rng.random(n)
    lang_idx = rng.integers(0, len(LANGS), n)
    d1 = rng.integers(0, 100, n)
    d2 = rng.integers(0, 100, n)
    u_commit = rng.random(n)
    n_rep = rng.integers(1, 61, n)
    u_sha = rng.random(n)
    tok = _hex(rng, n, 16)
    commit = _hex(rng, n, 20)

    ids = _str(np.arange(n))
    join = pc.binary_join_element_wise  # last argument is the separator
    token16 = pc.utf8_slice_codeunits(tok, 0, 16)
    content = join(
        "def fn_", ids, "():\n    # ", tok, "\n    return '",
        pc.binary_repeat(token16, pa.array(n_rep)), "'\n", "",
    )
    commit = pc.if_else(
        pa.array(u_commit < 0.003),
        pc.utf8_upper(commit),
        pc.if_else(pa.array(u_commit < 0.005), pc.utf8_slice_codeunits(commit, 0, 12), commit),
    )
    lang = pc.if_else(
        pa.array(u_lang < 0.003),
        "klingon",
        pc.if_else(
            pa.array(u_lang < 0.023), pa.scalar(None, pa.string()), pc.take(_str(LANGS), lang_idx)
        ),
    )
    sha = _str([hashlib.sha256(c).hexdigest() for c in content.cast(pa.binary()).to_pylist()])
    sha = pc.if_else(pa.array(u_sha < 0.002), hashlib.sha256(b"corrupted").hexdigest(), sha)
    table = pa.table(
        {
            "repo": join("org/repo_", _str(repo_idx), ""),
            "path": join(
                "src/dir_", _str(d1), "/sub_", _str(d2), "/file_", ids, ".",
                pc.take(_str(_EXTS), lang_idx), "",
            ),
            "commit": commit,
            "lang": lang,
            "content": content,
            "content_sha": sha,
        }
    )
    # ~1% of rows clone their predecessor's identity and content
    b = np.arange(n)
    b[(b % 101 == 0) & (b > 0)] -= 1
    _write_parts(table.take(b), path)


def write_keys(root: str, n_rows: int, seed: int) -> None:
    """``fact`` (n_rows orders) plus ``dim_product`` (N_PRODUCTS keys) and
    ``dim_customer`` (N_CUSTOMERS keys). Defects: ~0.5% duplicate
    order_id, ~0.5% duplicate (shop_id, order_no), ~1% orphan product and
    customer keys, ~1% NULL customer_id, ~0.5% negative amounts, ~0.3%
    zero quantities, ~0.5% unknown status."""
    rng = np.random.default_rng([seed, 2])
    order_id = np.arange(n_rows, dtype=np.int64) + 10_000_000 * (seed % 1000 + 1)
    dup_id = np.flatnonzero(rng.random(n_rows) < 0.005)
    dup_id = dup_id[dup_id > 0]
    order_id[dup_id] = order_id[dup_id - 1]
    shop_id = rng.integers(0, 500, n_rows).astype(np.int32)
    order_no = rng.permutation(n_rows).astype(np.int64)
    dup_key = np.flatnonzero(rng.random(n_rows) < 0.005)
    src = rng.integers(0, n_rows, dup_key.size)
    shop_id[dup_key] = shop_id[src]
    order_no[dup_key] = order_no[src]
    product_id = rng.integers(0, N_PRODUCTS, n_rows)
    orphan_p = rng.random(n_rows) < 0.01
    product_id[orphan_p] = N_PRODUCTS + rng.integers(0, 100, int(orphan_p.sum()))
    customer_id = rng.integers(0, N_CUSTOMERS, n_rows)
    u_cust = rng.random(n_rows)
    customer_id[u_cust < 0.01] = N_CUSTOMERS + rng.integers(0, 50_000, int((u_cust < 0.01).sum()))
    amount = np.round(rng.random(n_rows) * 1000.0, 2)
    neg = rng.random(n_rows) < 0.005
    amount[neg] = -amount[neg] - 1.0
    quantity = rng.integers(1, 21, n_rows).astype(np.int32)
    quantity[rng.random(n_rows) < 0.003] = 0
    status_idx = rng.integers(0, len(STATUSES), n_rows)
    status = np.array(STATUSES + ["lost"], dtype=object)[
        np.where(rng.random(n_rows) < 0.005, len(STATUSES), status_idx)
    ]
    _write_parts(
        pa.table(
            {
                "order_id": order_id,
                "shop_id": shop_id,
                "order_no": order_no,
                "product_id": product_id,
                "customer_id": pa.array(customer_id, pa.int64(), mask=(u_cust >= 0.01) & (u_cust < 0.02)),
                "amount": amount,
                "quantity": quantity,
                "status": pa.array(status, pa.string()),
            }
        ),
        os.path.join(root, "fact"),
    )
    _write_parts(
        pa.table(
            {
                "product_id": np.arange(N_PRODUCTS, dtype=np.int64),
                "category": pa.array([f"cat_{i % 37}" for i in range(N_PRODUCTS)]),
            }
        ),
        os.path.join(root, "dim_product"),
        n_files=1,
    )
    _write_parts(
        pa.table(
            {
                "customer_id": np.arange(N_CUSTOMERS, dtype=np.int64),
                "segment": rng.integers(0, 8, N_CUSTOMERS).astype(np.int32),
            }
        ),
        os.path.join(root, "dim_customer"),
        n_files=4,
    )


def write_corpus(path: str, n_docs: int, seed: int) -> np.ndarray:
    """(doc_id, text) word-salad documents; ~25% of them are planted
    near-copies (one to three substituted words) of another document.
    Returns the cluster label per doc_id (doc_id of the cluster's source,
    or -1 for a document that is in no cluster)."""
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(letters[rng.integers(0, 26, int(k))])
        for k in rng.integers(3, 9, 4000)
    ]
    n_src = n_docs * 3 // 4
    words = [rng.integers(0, len(vocab), int(k)) for k in rng.integers(40, 80, n_src)]
    cluster = np.full(n_docs, -1, dtype=np.int64)
    texts = [" ".join(vocab[w] for w in ws) for ws in words]
    src_of_copy = rng.integers(0, n_src, n_docs - n_src)
    for j, s in enumerate(src_of_copy.tolist()):
        ws = words[s].copy()
        pos = rng.integers(0, ws.size, int(rng.integers(1, 4)))
        ws[pos] = rng.integers(0, len(vocab), pos.size)
        texts.append(" ".join(vocab[w] for w in ws))
        cluster[n_src + j] = s
        cluster[s] = s
    # shuffle ids so a cluster's source is not always its smallest id
    perm = rng.permutation(n_docs)
    doc_id = np.empty(n_docs, dtype=np.int64)
    doc_id[perm] = np.arange(n_docs)
    labels = np.full(n_docs, -1, dtype=np.int64)
    has = cluster >= 0
    labels[doc_id[has]] = doc_id[cluster[has]]
    _write_parts(pa.table({"doc_id": doc_id, "text": texts}), path)
    return labels
