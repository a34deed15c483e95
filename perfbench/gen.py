"""Seeded input generators. Each returns the inputs the program reads and
the ground truth its checker needs; the same seed gives the same bytes.

Nothing here imports the program: the generators write plain parquet with
pyarrow, so a checker's truth never depends on the code under test.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "refund"])


def _events(rng, first_id: int, n: int, first_sec: int, null_ts_frac: float):
    """``n`` event rows with ids from ``first_id`` and strictly increasing
    second-resolution timestamps from ``first_sec`` (ts is the cursor)."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    secs = first_sec + np.arange(n, dtype=np.int64)
    ts = pa.array(
        np.datetime64(EPOCH, "us") + secs * 1_000_000,
        pa.timestamp("us", tz="UTC"),
        mask=(rng.random(n) < null_ts_frac) if null_ts_frac else None,
    )
    amount = np.round(rng.gamma(2.0, 20.0, n), 2)
    amount_null = rng.random(n) < 0.05
    return pa.table({
        "id": ids,
        "ts": ts,
        "user_id": pc.binary_join_element_wise(
            "u", pa.array(rng.integers(0, 50_000, n)).cast(pa.string()), ""),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "amount": pa.array(amount, mask=amount_null),
    })


def _write_parts(table: pa.Table, table_dir: str, parts: int):
    os.makedirs(table_dir, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        chunk = table.slice(i * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(table_dir, f"part-{i:05d}.parquet"))


# --- bulk_sync -------------------------------------------------------------


def enrich_row(row: dict) -> list[dict]:
    """The bulk workload's row → 0..2 enrichment: ``id % 3`` rows are
    dropped (0), passed (1), or passed plus a copy keyed ``-id`` (2)."""
    k = row["id"] % 3
    if k == 0:
        return []
    if k == 1:
        return [row]
    return [row, {**row, "id": -row["id"]}]


def expected_enriched_ids(ids: np.ndarray) -> set[int]:
    ids = np.asarray(ids)
    keep = ids[ids % 3 != 0]
    return set(keep.tolist()) | set((-ids[ids % 3 == 2]).tolist())


def bulk_model(seed: int, root: str, rows: int, parts: int = 4) -> dict:
    """``<root>/bulk_events.parquet``: ``rows`` events, 1% null cursors.
    Truth: the ids the receiver must hold after enrichment."""
    rng = np.random.default_rng([seed, 1])
    table = _events(rng, 1, rows, 0, null_ts_frac=0.01)
    _write_parts(table, os.path.join(root, "bulk_events.parquet"), parts)
    return {"expected_ids": expected_enriched_ids(table["id"].to_numpy())}


# --- trickle_sync ----------------------------------------------------------


class TrickleSource:
    """A growing parquet table ``<root>/trickle_events.parquet``: history
    first, then one part file of ``delta_rows`` per tick."""

    def __init__(self, seed: int, root: str, history_rows: int,
                 delta_rows: int, history_parts: int = 8) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.table_dir = os.path.join(root, "trickle_events.parquet")
        self.delta_rows = delta_rows
        table = _events(self.rng, 1, history_rows, 0, null_ts_frac=0)
        _write_parts(table, self.table_dir, history_parts)
        self.next_id = history_rows + 1
        self.ticks = 0

    @property
    def max_ts(self) -> dt.datetime:
        """The cursor value of the newest row written so far."""
        return EPOCH + dt.timedelta(seconds=self.next_id - 2)

    @property
    def max_id(self) -> int:
        return self.next_id - 1

    def append_delta(self) -> dict:
        """Write one tick's delta. Truth: its ids, the boundary id the
        inclusive ``>=`` predicate re-sends, and the cursor to persist."""
        boundary = self.max_id
        table = _events(self.rng, self.next_id, self.delta_rows,
                        self.next_id - 1, null_ts_frac=0)
        pq.write_table(table, os.path.join(
            self.table_dir, f"tick-{self.ticks:05d}.parquet"))
        self.ticks += 1
        self.next_id += self.delta_rows
        return {
            "ids": set(table["id"].to_pylist()),
            "boundary_ids": {boundary},
            "max_cursor": self.max_ts,
        }


# --- crm_upsert ------------------------------------------------------------


def crm_contacts(seed: int, root: str, per_pass: int, cycles: int) -> dict:
    """``<root>/crm_contacts.parquet``: for each cycle ``c`` a create pass
    ``c<c>`` of ``per_pass`` new contacts and an update pass ``u<c>`` of the
    same contacts with changed properties. Truth: per external id, the
    properties HubSpot must hold after the update pass."""
    rng = np.random.default_rng([seed, 3])
    cols: dict[str, list] = {k: [] for k in
                             ("pass", "id", "name", "email", "plan", "score")}
    final: dict[str, dict] = {}
    for c in range(cycles):
        ids = np.arange(c * per_pass + 1, (c + 1) * per_pass + 1)
        score = rng.integers(0, 1000, per_pass)
        for label, plan, bump in ((f"c{c}", "free", 0), (f"u{c}", "pro", 1)):
            for i, s in zip(ids.tolist(), score.tolist()):
                first, last = f"first{i}", f"last{i + bump}"
                cols["pass"].append(label)
                cols["id"].append(i)
                cols["name"].append(f"{first} {last}")
                cols["email"].append(f"c{i}@example.com")
                cols["plan"].append(plan)
                cols["score"].append(s + bump)
                if bump:
                    final[str(i)] = {
                        "external_id": str(i), "firstname": first,
                        "lastname": last, "email": f"c{i}@example.com",
                        "plan": plan, "score": str(s + bump),
                    }
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(root, "crm_contacts.parquet"))
    return {"final": final}


# --- near_dup_ingest -------------------------------------------------------

VOCAB = [f"w{i}" for i in range(5000)]


def shingles(text: str, k: int = 3) -> set[str]:
    """k-word shingles of a generated document (lower-case ASCII words
    separated by single spaces, so no further normalisation applies)."""
    words = text.split()
    if len(words) < k:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


class DocStream:
    """Documents with planted near-duplicates, one parquet file per
    micro-batch in ``<root>``. A planted duplicate copies an earlier
    original (this batch or a previous one) with one word replaced, which
    keeps its 3-shingle Jaccard near 0.9; an original is copied at most
    once and a copy is never an original."""

    def __init__(self, seed: int, root: str, batch_docs: int,
                 dup_frac: float = 0.1) -> None:
        self.rng = np.random.default_rng([seed, 4])
        self.root = root
        self.batch_docs = batch_docs
        self.dup_frac = dup_frac
        self.texts: dict[int, str] = {}
        self.originals: list[int] = []
        self.planted: set[tuple[int, int]] = set()
        self.batches = 0
        os.makedirs(root, exist_ok=True)

    def _doc(self) -> str:
        n = int(self.rng.integers(60, 81))
        return " ".join(VOCAB[j] for j in self.rng.integers(0, len(VOCAB), n))

    def _near_copy(self, text: str) -> str:
        words = text.split()
        p = int(self.rng.integers(0, len(words)))
        words[p] = f"x{int(self.rng.integers(0, 10**9))}"
        return " ".join(words)

    def write_batch(self) -> None:
        ids, texts = [], []
        next_id = len(self.texts) + 1
        for i in range(self.batch_docs):
            doc_id = next_id + i
            if self.originals and self.rng.random() < self.dup_frac:
                pick = int(self.rng.integers(0, len(self.originals)))
                orig = self.originals.pop(pick)
                text = self._near_copy(self.texts[orig])
                self.planted.add((orig, doc_id))
            else:
                text = self._doc()
                self.originals.append(doc_id)
            self.texts[doc_id] = text
            ids.append(doc_id)
            texts.append(text)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
            os.path.join(self.root, f"batch-{self.batches:05d}.parquet"),
        )
        self.batches += 1
