"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, sizes)``: the same seed writes
byte-identical parquet files, another seed writes different ones. The
engine under test only ever sees the files written here.

- ``events``: the ``events`` schema (event_id, ts, user_id, event_type,
  value, props). Each replica of ``rows_per_replica`` rows draws its users
  from its own block of ``users_per_replica`` ids, so the cleaner's
  (user, type, date) dedup keys stay as distinct as in one replica. A
  seeded ``dirty_frac`` of rows is rewritten into one of the dirty kinds
  below so that the validator and the cleaner's filters have work to do.
- ``stream slices``: one events table cut into ``n_slices`` files by a
  seeded hash of ``event_id``.
- ``documents``: the ``documents`` schema (doc_id, text, lang, source,
  n_chars). Texts are seeded word sequences over a small vocabulary,
  dealt to doc ids by a seeded permutation; a seeded set of near-duplicate
  texts (one word replaced) is planted inside the ids the dedup queries
  read.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAYS = 30
DAY_US = 86_400_000_000

# Dirty-row kinds; each dirty row gets exactly one.
DIRTY_KINDS = (
    "type_variant",    # ' Click', 'VIEW ' -> normalised by the cleaner
    "type_unknown",    # out-of-domain type: validator flags, cleaner keeps
    "value_null",      # -> 0.0 default
    "value_negative",  # dropped by the cleaner
    "ts_null",         # dropped by the cleaner
    "ts_out_of_range", # 1999 / 2101: dropped by the cleaner
    "props_malformed", # validator flags
    "user_null",       # validator flags; kept as its own dedup key
    "id_null",         # validator flags
    "dup_key",         # copies another row's (user, type, ts)
)

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose), so adding a draw to one
    table never shifts another table's values."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path, compression="zstd", row_group_size=1 << 20)
    return path


def events_table(
    seed: int,
    rows_per_replica: int = 100_000,
    replicas: int = 1,
    users_per_replica: int = 1500,
    dirty_frac: float = 0.0,
) -> tuple[pa.Table, dict]:
    """Generate an events table and the counts of what was injected."""
    rng = _rng(seed, "events")
    n = rows_per_replica * replicas
    replica = np.repeat(np.arange(replicas, dtype=np.int64), rows_per_replica)
    user = rng.integers(0, users_per_replica, n) + replica * users_per_replica
    ts = T0_US + rng.integers(0, DAYS * DAY_US, n)
    etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)[
        rng.integers(0, 100, n)
    ]
    event_id = np.arange(n, dtype=np.int64)

    mask = {c: np.zeros(n, dtype=bool) for c in ("ts", "user", "value", "id")}
    injected = {k: 0 for k in DIRTY_KINDS}
    n_dirty = int(round(n * dirty_frac))
    if n_dirty:
        rows = rng.choice(n, n_dirty, replace=False)
        kinds = rng.integers(0, len(DIRTY_KINDS), n_dirty)
        donors = rng.integers(0, n, n_dirty)
        for row, kind, donor in zip(rows, kinds, donors):
            name = DIRTY_KINDS[kind]
            injected[name] += 1
            if name == "type_variant":
                t = etype[row]
                etype[row] = f" {t.capitalize()}" if row % 2 else f"{t.upper()} "
            elif name == "type_unknown":
                etype[row] = "refund"
            elif name == "value_null":
                mask["value"][row] = True
            elif name == "value_negative":
                value[row] = -value[row] - 1.0
            elif name == "ts_null":
                mask["ts"][row] = True
            elif name == "ts_out_of_range":
                ts[row] = (
                    946_684_800_000_000 - DAY_US if row % 2
                    else 4_133_980_800_000_000 + DAY_US
                )
            elif name == "props_malformed":
                props[row] = "{k: " if row % 2 else "not json"
            elif name == "user_null":
                mask["user"][row] = True
            elif name == "id_null":
                mask["id"][row] = True
            else:  # dup_key
                user[row], etype[row], ts[row] = user[donor], etype[donor], ts[donor]
                mask["user"][row] = mask["user"][donor]
                mask["ts"][row] = mask["ts"][donor]

    table = pa.table(
        {
            "event_id": pa.array(event_id, mask=mask["id"]),
            "ts": pa.array(ts, type=pa.timestamp("us"), mask=mask["ts"]),
            "user_id": pa.array(user, mask=mask["user"]),
            "event_type": pa.array(etype, type=pa.string()),
            "value": pa.array(value, mask=mask["value"]),
            "props": pa.array(props, type=pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )
    info = {
        "rows": n,
        "replicas": replicas,
        "rows_per_replica": rows_per_replica,
        "users": users_per_replica * replicas,
        "days": DAYS,
        "dirty_frac": dirty_frac,
        "dirty_rows": n_dirty,
        "dirty_kinds": injected,
    }
    return table, info


def stream_slices(
    seed: int, n_slices: int = 12, rows: int = 100_000
) -> tuple[list[pa.Table], dict]:
    """One events table cut into ``n_slices`` by a seeded hash of
    event_id; slice ``i`` is what round ``i`` lands."""
    table, info = events_table(seed, rows_per_replica=rows)
    ids = table.column("event_id").to_numpy()
    salt = int(_rng(seed, "slices").integers(1, 2**31))
    # splitmix-style integer hash: uniform slice sizes for any seed
    h = (ids.astype(np.uint64) + np.uint64(salt)) * np.uint64(0x9E3779B97F4A7C15)
    h ^= h >> np.uint64(31)
    slot = (h % np.uint64(n_slices)).astype(np.int64)
    slices = [table.filter(pa.array(slot == i)) for i in range(n_slices)]
    info = dict(info, slices=n_slices, slice_rows=[s.num_rows for s in slices])
    return slices, info


def write_events(path: str, seed: int, **kw) -> dict:
    table, info = events_table(seed, **kw)
    write_table(table, path)
    return info


DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
WORDS = (
    "a the spark stream batch data table row column key value hash join sort "
    "group agg filter scan window query order part line vector merge fast slow "
    "big small customer"
).split()


def documents_table(
    seed: int, n_docs: int = 1000, near_dup_frac: float = 0.1, dup_below: int = 300
) -> tuple[pa.Table, dict]:
    """Generate a documents table. ``near_dup_frac`` of the ids below
    ``dup_below`` hold a copy of another such doc's text with one word
    replaced."""
    rng = _rng(seed, "documents")
    lengths = rng.integers(8, 60, n_docs)
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n))
        for n in lengths
    ]
    texts = [texts[i] for i in rng.permutation(n_docs)]
    n_dups = int(round(min(dup_below, n_docs) * near_dup_frac))
    targets = rng.choice(min(dup_below, n_docs), n_dups, replace=False)
    for t in targets:
        src = int(rng.integers(0, min(dup_below, n_docs)))
        words = texts[src].split()
        words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[t] = " ".join(words)
    langs = np.array(["en", "de", "fr", "zh"], dtype=object)[rng.integers(0, 4, n_docs)]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array([f"src{i % 5}" for i in range(n_docs)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        },
        schema=DOCS_SCHEMA,
    )
    info = {"docs": n_docs, "near_dups": n_dups, "dup_below": dup_below,
            "vocab": len(WORDS), "words_min": 8, "words_max": 59}
    return table, info


def write_documents(path: str, seed: int, **kw) -> dict:
    table, info = documents_table(seed, **kw)
    write_table(table, path)
    return info
