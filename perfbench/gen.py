"""Seeded benchmark inputs and their reference answers.

Everything here is plain numpy / json / pyarrow: the generator never calls
the engine, so a bug in the engine cannot hide in its own reference.

* ``nexus_files`` writes NeXus JSON trees (several CSR detector banks, one
  error bank, a ``proton_charge`` pulse clock plus other DAS logs, and
  sample / instrument / users / software groups) and returns the expected
  row count of each of the nine lake tables plus the per-event arrays the
  time-slice references are computed from.
* ``doc_batches`` writes document batches (text + 64-dim embedding) with
  known shares of exact copies, one-token near copies and embedding
  near-twins of documents from earlier batches, and returns the ids of
  every injected copy.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

INSTRUMENTS = ("REF_L", "CNCS", "HYSPEC", "SNAP")
PULSE_HZ = 60.0
PULSE_US = 1e6 / PULSE_HZ
ERROR_BANK = "bank_error_events"
N_BANKS = 3   # detector banks per file, besides the error bank
BANKS = [f"bank{b + 1}_events" for b in range(N_BANKS)] + [ERROR_BANK]
TABLE_NAMES = (
    "metadata", "sample", "instrument", "software", "users",
    "daslogs", "events", "event_summary", "experiment_runs",
)


@dataclass
class Lake:
    """Generated NeXus files and everything needed to check the lake."""

    paths: list[str]
    runs: list[tuple[str, int]]     # (instrument_id, run_number) per file
    table_rows: dict[str, int]
    # one entry per event, concatenated over all files
    run: np.ndarray           # index into ``runs``
    bank: np.ndarray          # index into ``BANKS``
    pulse_index: np.ndarray
    abs_time: np.ndarray      # pulse_time + time_offset / 1e6, as Spark computes it

    @property
    def n_events(self) -> int:
        return len(self.abs_time)


def _run_tree(rng: np.random.Generator, instrument: str, run_number: int,
              n_events: int, n_pulses: int):
    """One NeXus tree, its per-table row counts and its event arrays."""
    pulse_time = np.arange(n_pulses, dtype=np.float64) / PULSE_HZ
    entry: dict = {
        "@attrs": {"NX_class": "NXentry"},
        "title": f"{instrument} run {run_number}",
        "run_number": run_number,
        "start_time": "2025-01-15T10:00:00",
        "end_time": "2025-01-15T11:00:00",
        "duration": float(n_pulses / PULSE_HZ),
        "proton_charge": float(rng.uniform(1, 100)),
        "total_counts": n_events,
        "experiment_identifier": f"IPTS-{int(rng.integers(1000, 9999))}",
        "definition": "NXsnsevent",
        "sample": {
            "name": f"sample-{run_number}", "nature": "solid",
            "chemical_formula": "Si", "mass": float(rng.uniform(0.1, 5)),
            "temperature": float(rng.uniform(4, 300)), "holder": "can-3",
        },
        "instrument": {"name": instrument, "beamline": f"BL-{instrument}"},
    }
    n_users = int(rng.integers(1, 4))
    for u in range(n_users):
        entry[f"user{u + 1}"] = {"name": f"user {u}", "role": "PI" if u == 0 else "member",
                                 "facility_user_id": f"u{run_number}{u}"}
    n_sw = int(rng.integers(2, 4))
    entry["Software"] = {f"component{c}": {"name": f"sw{c}", "version": f"1.{c}"}
                         for c in range(n_sw)}
    n_temp = int(rng.integers(50, 200))
    n_veto = int(rng.integers(10, 50))
    entry["DASlogs"] = {
        "proton_charge": {"time": pulse_time.tolist(),
                          "value": rng.uniform(0.9, 1.1, n_pulses).round(6).tolist()},
        "temperature": {
            "time": np.sort(rng.uniform(0, n_pulses / PULSE_HZ, n_temp)).tolist(),
            "value": rng.normal(300, 1, n_temp).round(4).tolist(),
            "average_value": 300.0, "minimum_value": 295.0, "maximum_value": 305.0,
            "device_name": "sample_env",
        },
        "Veto_pulse": {"time": np.sort(rng.uniform(0, n_pulses / PULSE_HZ, n_veto)).tolist()},
        "stats_only": {"average_value": float(rng.uniform(0, 10))},
    }
    daslog_rows = n_pulses + n_temp + n_veto + 1

    # Events: the error bank gets a small share; the rest split unevenly.
    share = rng.dirichlet(np.full(N_BANKS, 4.0)) * 0.97
    counts = np.floor(np.append(share, 0.03) * n_events).astype(np.int64)
    counts[0] += n_events - counts.sum()
    bank_a, pidx_a, t_a = [], [], []
    for b, n in enumerate(counts):
        n = int(n)
        # CSR: sorted pulse ordinal per event -> event_index = first event of pulse
        pidx = np.sort(rng.integers(0, n_pulses, n))
        event_index = np.searchsorted(pidx, np.arange(n_pulses), side="left")
        offs = rng.uniform(0, PULSE_US, n)
        entry[BANKS[b]] = {
            "event_id": rng.integers(0, 1 << 20, n).tolist(),
            "event_time_offset": offs.tolist(),
            "event_index": event_index.tolist(),
            "total_counts": n,
        }
        bank_a.append(np.full(n, b, dtype=np.int16))
        pidx_a.append(pidx)
        t_a.append(pulse_time[pidx] + offs / 1e6)
    rows = {
        "metadata": 1, "sample": 1, "instrument": 1, "software": n_sw,
        "users": n_users, "daslogs": daslog_rows, "events": n_events,
        "event_summary": len(BANKS), "experiment_runs": 1,
    }
    tree = {"@attrs": {"file_name": f"{instrument}_{run_number}.nxs.h5"}, "entry": entry}
    return tree, rows, [np.concatenate(a) for a in (bank_a, pidx_a, t_a)]


def nexus_files(out_dir: str, seed: int, *, n_files: int, events_per_file: int,
                pulses_per_file: int) -> Lake:
    """Write ``n_files`` seeded NeXus JSON trees under ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    paths, runs = [], []
    totals = dict.fromkeys(TABLE_NAMES, 0)
    cols: list[list[np.ndarray]] = [[] for _ in range(4)]
    run_numbers = rng.choice(np.arange(10_000, 99_999), n_files, replace=False)
    for i in range(n_files):
        instrument = INSTRUMENTS[i % len(INSTRUMENTS)]
        run_number = int(run_numbers[i])
        tree, rows, arrays = _run_tree(rng, instrument, run_number,
                                       events_per_file, pulses_per_file)
        path = os.path.join(out_dir, f"{instrument}_{run_number}.json")
        with open(path, "w") as fh:
            json.dump(tree, fh)
        paths.append(path)
        runs.append((instrument, run_number))
        for t, n in rows.items():
            totals[t] += n
        cols[0].append(np.full(len(arrays[0]), i, dtype=np.int32))
        for c, a in zip(cols[1:], arrays):
            c.append(a)
    run, bank, pidx, t = (np.concatenate(c) for c in cols)
    return Lake(paths, runs, totals, run, bank, pidx, t)


def bucket_counts(lake: Lake, interval_s: float, run: int | None = None
                  ) -> dict[tuple[int, str], tuple[int, int]]:
    """Reference for ``count_by_bank_and_interval`` over the whole lake or
    one run: {(interval, bank): (event_count, n_pulses)} with the same
    ``floor(t / N)`` bucket. Pulses are distinct ``pulse_index`` values,
    as the operator counts them."""
    t, bank, pidx = lake.abs_time, lake.bank, lake.pulse_index
    if run is not None:
        m = lake.run == run
        t, bank, pidx = t[m], bank[m], pidx[m]
    nb, npulse = len(BANKS), int(pidx.max()) + 1
    group = np.floor(t / float(interval_s)).astype(np.int64) * nb + bank
    groups, n_events = np.unique(group, return_counts=True)
    pulse_groups = np.unique(group * npulse + pidx) // npulse
    _, n_pulses = np.unique(pulse_groups, return_counts=True)
    return {(int(g // nb), BANKS[int(g % nb)]): (int(e), int(p))
            for g, e, p in zip(groups, n_events, n_pulses)}


def range_count(lake: Lake, start: float, end: float) -> tuple[int, int, int]:
    """Reference for ``count_in_time_range``: (event_count, n_banks,
    n_pulses) over ``[start, end)``."""
    m = (lake.abs_time >= start) & (lake.abs_time < end)
    return (int(m.sum()), len(np.unique(lake.bank[m])),
            len(np.unique(lake.pulse_index[m])))


# ---------------------------------------------------------------------------
# Documents for the streaming-curation workload
# ---------------------------------------------------------------------------

EMB_DIM = 64
# share of each batch (from the second on) that copies earlier documents,
# split evenly between exact, near and semantic copies
DUP_SHARE = 0.1
DOC_SCHEMA = "doc_id long, text string, embedding array<float>"


@dataclass
class DocBatches:
    paths: list[str]            # one parquet file per batch, in order
    ids: list[list[int]]        # doc ids of each batch
    unique: set[int]            # ids that duplicate nothing
    exact: dict[int, int]       # copy id -> original id
    near: dict[int, int]        # one-token near copies
    semantic: dict[int, int]    # embedding near-twins (unrelated text)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [f"w{x}" for x in rng.integers(0, 50_000, n)]


def doc_batches(out_dir: str, seed: int, *, n_batches: int, docs_per_batch: int) -> DocBatches:
    """Write ``n_batches`` parquet files of documents. From the second
    batch on, ``DUP_SHARE`` of each batch is split evenly between exact
    copies, one-token near copies and embedding near-twins (cosine ~0.99)
    of unique documents from earlier batches; the rest is unique text with
    a random embedding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    texts: dict[int, list[str]] = {}
    embs: dict[int, np.ndarray] = {}
    out = DocBatches([], [], set(), {}, {}, {})
    next_id = 0
    for b in range(n_batches):
        ids, rows_text, rows_emb = [], [], []
        n_copy = int(docs_per_batch * DUP_SHARE) // 3 if b else 0
        earlier = sorted(out.unique)
        for kind in ("exact", "near", "semantic"):
            for orig in rng.choice(earlier, n_copy, replace=False) if n_copy else []:
                orig = int(orig)
                words = list(texts[orig])
                emb = embs[orig]
                if kind == "near":
                    words[int(rng.integers(len(words)))] = f"x{int(rng.integers(1 << 30))}"
                    emb = rng.normal(size=EMB_DIM)
                elif kind == "semantic":
                    words = _words(rng, len(words))
                    emb = emb + rng.normal(scale=0.1 * np.linalg.norm(emb) / np.sqrt(EMB_DIM),
                                           size=EMB_DIM)
                getattr(out, kind)[next_id] = orig
                ids.append(next_id)
                rows_text.append(" ".join(words))
                rows_emb.append(emb)
                next_id += 1
        while len(ids) < docs_per_batch:
            words = _words(rng, int(rng.integers(60, 120)))
            emb = rng.normal(size=EMB_DIM)
            texts[next_id], embs[next_id] = words, emb
            out.unique.add(next_id)
            ids.append(next_id)
            rows_text.append(" ".join(words))
            rows_emb.append(emb)
            next_id += 1
        order = rng.permutation(len(ids))
        table = pa.table({
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": pa.array([rows_text[i] for i in order], pa.string()),
            "embedding": pa.array([rows_emb[i].astype(np.float32) for i in order],
                                  pa.list_(pa.float32())),
        })
        path = os.path.join(out_dir, f"batch-{b:04d}.parquet")
        pq.write_table(table, path)
        out.paths.append(path)
        out.ids.append(ids)
    return out
