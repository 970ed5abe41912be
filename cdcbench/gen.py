"""Seeded input generator with ground truth for the streaming workloads.

The generator owns the changelog: it runs a small key-state machine
(insert / update / delete per (conv_id, turn_idx) key), writes the
Debezium-shaped envelopes of each chunk straight into spool files, and
keeps a per-chunk change log so the expected table after any prefix of
chunks can be rebuilt from its own rules. No engine function shapes the
input, so a change to the engine cannot change what is measured.

Only numpy / pyarrow are used here; nothing imports Spark.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
WINDOW_US = 600_000_000  # the maintained view's 10-minute tumbling window
ROLES = np.array(["user", "assistant", "tool", "assistant"], dtype=object)
WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query window stream merge data row key table "
    "join vector customer big the a"
).split()
SOURCE = {"db": "transcripts", "table": "turns"}
REASONS = ("empty_input", "unparseable", "bad_op", "no_image")

_IMAGE_T = pa.struct(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
ENVELOPE_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("before", _IMAGE_T),
        ("after", _IMAGE_T),
        ("source", pa.struct([("db", pa.string()), ("table", pa.string())])),
        ("seq", pa.int64()),
    ]
)
TABLE_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
VIEW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("win_start", pa.timestamp("us", tz="UTC")),
        ("win_end", pa.timestamp("us", tz="UTC")),
        ("n_turns", pa.int64()),
    ]
)


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's changelog.

    Every insert picks a conversation uniformly from all of them (hashed
    keys, every bucket touched), except that ``hot_share`` of inserts go
    to conversation ``c0``.
    """

    chunk_envs: int
    n_convs: int
    hot_share: float = 0.05
    upd_share: float = 0.10
    del_share: float = 0.02
    bad_share: float = 0.0  # malformed wire lines, as a share of lines
    json: bool = False


@dataclass
class ChunkLog:
    inserted: np.ndarray
    updated: np.ndarray
    upd_ver: np.ndarray
    upd_ts: np.ndarray
    deleted: np.ndarray
    envelopes: int
    bad: dict = field(default_factory=dict)


class KeyState:
    """Per-key state arrays (key id = row position)."""

    def __init__(self, capacity: int):
        self.conv = np.zeros(capacity, np.int64)
        self.idx = np.zeros(capacity, np.int32)
        self.ts = np.zeros(capacity, np.int64)
        self.ver = np.zeros(capacity, np.int32)
        self.live = np.zeros(capacity, bool)
        self.n = 0

    def copy_prefix(self, n: int) -> "KeyState":
        out = KeyState(0)
        for name in ("conv", "idx", "ts", "ver", "live"):
            setattr(out, name, getattr(self, name)[:n].copy())
        out.n = n
        return out


_PHRASES = [
    " ".join(WORDS[(h >> k) % len(WORDS)] for k in range(0, 12, 2))
    for h in range(1 << 12)
]


def _text(conv, idx, ver, salt: int) -> list[str]:
    """Deterministic turn text for (conv, turn_idx, version)."""
    h = (conv * 1_000_003 + idx.astype(np.int64) * 7_919 + ver * 104_729 + salt) % 4093
    return [
        f"{_PHRASES[hh]} c{c}.{i}.v{v}"
        for c, i, v, hh in zip(conv.tolist(), idx.tolist(), ver.tolist(), h.tolist())
    ]


def _images(st: KeyState, keys: np.ndarray, salt: int) -> dict:
    conv, idx = st.conv[keys], st.idx[keys]
    role = ROLES[(idx + conv) % 4]
    tool = [
        f"tool_{t}" if r == "tool" else None
        for r, t in zip(role.tolist(), ((conv + idx) % 7).tolist())
    ]
    return {
        "conv_id": ["c" + str(c) for c in conv.tolist()],
        "turn_idx": idx,
        "role": role.tolist(),
        "text": _text(conv, idx, st.ver[keys], salt),
        "tool": tool,
        "ts": st.ts[keys],
    }


def _image_array(img: dict, valid: np.ndarray) -> pa.Array:
    arrays = [
        pa.array(img["conv_id"], pa.string()),
        pa.array(img["turn_idx"], pa.int32()),
        pa.array(img["role"], pa.string()),
        pa.array(img["text"], pa.string()),
        pa.array(img["tool"], pa.string()),
        pa.array(img["ts"], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
    ]
    return pa.StructArray.from_arrays(arrays, fields=list(_IMAGE_T), mask=pa.array(~valid))


def _concat_images(parts: list[dict]) -> dict:
    out = {}
    for k in parts[0]:
        vals = [p[k] for p in parts]
        out[k] = (
            np.concatenate(vals)
            if isinstance(vals[0], np.ndarray)
            else [x for v in vals for x in v]
        )
    return out


class Changelog:
    """Generates a workload's chunks and ground truth."""

    def __init__(self, spec: Spec, seed: int, max_envs: int):
        """``max_envs`` bounds the envelopes of all chunks together."""
        self.spec = spec
        self.rng = np.random.default_rng([seed, spec.chunk_envs])
        self.salt = int(self.rng.integers(0, 1 << 20))
        self.conv_len = np.zeros(spec.n_convs, np.int64)
        self.conv_t0 = T0_US + self.rng.integers(0, 20 * 86_400 * 1_000_000, spec.n_convs)
        self.conv_gap = self.rng.integers(5, 240, spec.n_convs) * 1_000_000
        self.seq = 1
        self.logs: list[ChunkLog] = []
        self.st = KeyState(max_envs)

    # -- state machine --------------------------------------------------
    def _insert(self, convs: np.ndarray) -> np.ndarray:
        st = self.st
        order = np.argsort(convs, kind="stable")
        sc = convs[order]
        uniq, start, counts = np.unique(sc, return_index=True, return_counts=True)
        rank = np.arange(len(sc)) - np.repeat(start, counts)
        idx = np.empty(len(sc), np.int64)
        idx[order] = self.conv_len[sc] + rank
        self.conv_len[uniq] += counts
        keys = np.arange(st.n, st.n + len(convs))
        st.conv[keys] = convs
        st.idx[keys] = idx
        st.ts[keys] = self.conv_t0[convs] + idx * self.conv_gap[convs]
        st.ver[keys] = 0
        st.live[keys] = True
        st.n += len(convs)
        return keys

    def _candidates(self) -> np.ndarray:
        return np.flatnonzero(self.st.live[: self.st.n])

    def chunk(self, n_envs: int) -> tuple[pa.Table | list[str], ChunkLog]:
        """The next chunk of ``n_envs`` envelopes: a parquet-ready table,
        or JSON lines (with the seeded malformed ones) for a wire spec."""
        spec, st, rng = self.spec, self.st, self.rng
        n_upd = int(round(n_envs * spec.upd_share))
        n_del = int(round(n_envs * spec.del_share))
        n_ins = n_envs - n_upd - n_del
        hot = rng.random(n_ins) < spec.hot_share
        pick = rng.integers(1, spec.n_convs, n_ins)
        ins = self._insert(np.where(hot, 0, pick))

        cand = self._candidates()
        upd = rng.choice(cand, min(n_upd, len(cand)), replace=False)
        before_upd = _images(st, upd, self.salt)
        st.ver[upd] += 1
        st.ts[upd] += rng.integers(-900, 900, len(upd)) * 1_000_000
        after_upd = _images(st, upd, self.salt)

        cand = np.setdiff1d(self._candidates(), upd, assume_unique=True)
        dele = rng.choice(cand, min(n_del, len(cand)), replace=False)
        before_del = _images(st, dele, self.salt)
        st.live[dele] = False

        n_i, n_u, n_d = len(ins), len(upd), len(dele)
        ops = np.array(["c"] * n_i + ["u"] * n_u + ["d"] * n_d, dtype=object)
        before = _concat_images([_images(st, ins, self.salt), before_upd, before_del])
        after = _concat_images([_images(st, ins, self.salt), after_upd, before_del])
        has_before = np.r_[np.zeros(n_i, bool), np.ones(n_u + n_d, bool)]
        has_after = np.r_[np.ones(n_i + n_u, bool), np.zeros(n_d, bool)]
        n = n_i + n_u + n_d
        seqs = np.arange(self.seq, self.seq + n)
        self.seq += n
        log = ChunkLog(ins, upd, st.ver[upd].copy(), st.ts[upd].copy(), dele, n)
        if spec.json:
            data = render_json_lines(
                ops, (before, has_before), (after, has_after), seqs, rng, spec.bad_share, log
            )
        else:
            data = self._envelopes(ops, (before, has_before), (after, has_after), seqs)
        self.logs.append(log)
        return data, log

    def _envelopes(self, ops, before, after, seqs) -> pa.Table:
        """``before`` and ``after`` are (images, present) pairs."""
        n = len(ops)
        src = pa.StructArray.from_arrays(
            [pa.array([SOURCE["db"]] * n), pa.array([SOURCE["table"]] * n)],
            names=["db", "table"],
        )
        return pa.Table.from_arrays(
            [pa.array(ops, pa.string()), _image_array(*before), _image_array(*after), src, pa.array(seqs, pa.int64())],
            schema=ENVELOPE_SCHEMA,
        )

    # -- ground truth ---------------------------------------------------
    def state_after(self, k: int) -> KeyState:
        """Key state after the first ``k`` chunks, rebuilt by replaying
        the per-chunk change logs."""
        logs = self.logs[:k]
        n = sum(len(lg.inserted) for lg in logs)
        st = self.st.copy_prefix(n)
        st.live[:] = False
        for lg in logs:
            st.live[lg.inserted] = True
            st.ver[lg.inserted] = 0
            st.ts[lg.inserted] = self.conv_t0[st.conv[lg.inserted]] + (
                st.idx[lg.inserted] * self.conv_gap[st.conv[lg.inserted]]
            )
            st.ver[lg.updated] = lg.upd_ver
            st.ts[lg.updated] = lg.upd_ts
            st.live[lg.deleted] = False
        return st

    def expected_table(self, k: int) -> pa.Table:
        st = self.state_after(k)
        keys = np.flatnonzero(st.live)
        img = _images(st, keys, self.salt)
        return pa.table(
            {
                "conv_id": pa.array(img["conv_id"], pa.string()),
                "turn_idx": pa.array(img["turn_idx"], pa.int32()),
                "role": pa.array(img["role"], pa.string()),
                "text": pa.array(img["text"], pa.string()),
                "tool": pa.array(img["tool"], pa.string()),
                "ts": pa.array(img["ts"], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            },
            schema=TABLE_SCHEMA,
        )

    def expected_windows(self, k: int) -> pa.Table:
        """Per-conversation 10-minute tumbling counts over live turns."""
        st = self.state_after(k)
        keys = np.flatnonzero(st.live)
        win = (st.ts[keys] // WINDOW_US) * WINDOW_US
        pairs, counts = np.unique(
            np.stack([st.conv[keys], win], axis=1), axis=0, return_counts=True
        )
        return pa.table(
            {
                "conv_id": pa.array(["c" + str(c) for c in pairs[:, 0].tolist()]),
                "win_start": pa.array(pairs[:, 1]).cast(pa.timestamp("us", tz="UTC")),
                "win_end": pa.array(pairs[:, 1] + WINDOW_US).cast(
                    pa.timestamp("us", tz="UTC")
                ),
                "n_turns": pa.array(counts, pa.int64()),
            },
            schema=VIEW_SCHEMA,
        )

    def expected_dlq(self, k: int) -> dict[str, int]:
        out = dict.fromkeys(REASONS, 0)
        for lg in self.logs[:k]:
            for r, n in lg.bad.items():
                out[r] += n
        return out


# -- wire rendering -----------------------------------------------------
def _image_json(img: dict, valid: np.ndarray, name: str) -> list[str]:
    ts = np.datetime_as_string(np.asarray(img["ts"]).astype("datetime64[us]"), unit="us")
    out = []
    for ok, c, i, r, t, tool, when in zip(
        valid.tolist(), img["conv_id"], img["turn_idx"].tolist(), img["role"],
        img["text"], img["tool"], ts.tolist(),
    ):
        if not ok:
            out.append("")
            continue
        tool = f'"tool":"{tool}",' if tool is not None else ""
        out.append(
            f'"{name}":{{"conv_id":"{c}","turn_idx":{i},"role":"{r}",'
            f'"text":"{t}",{tool}"ts":"{when}Z"}},'
        )
    return out


def render_json_lines(ops, before, after, seqs, rng, bad_share: float, log: ChunkLog) -> list[str]:
    """Envelopes → Debezium JSON lines, plus seeded malformed lines
    spread evenly over the four quarantine reasons (recorded in
    ``log.bad``). Absent images are omitted, as Debezium does."""
    src = '"source":' + json.dumps(SOURCE, separators=(",", ":"))
    lines = [
        f'{{"op":"{op}",{b}{a}{src},"seq":{q}}}'
        for op, b, a, q in zip(
            ops.tolist(), _image_json(*before, "before"), _image_json(*after, "after"),
            seqs.tolist(),
        )
    ]
    n_bad = int(round(len(lines) * bad_share / (1.0 - bad_share)))
    n_bad -= n_bad % len(REASONS)
    reasons = [REASONS[i % len(REASONS)] for i in range(n_bad)]
    donors = rng.integers(0, len(lines), n_bad)
    bad = []
    for r, d in zip(reasons, donors.tolist()):
        good = lines[d]
        if r == "empty_input":
            bad.append(" " * (d % 3))
        elif r == "unparseable":
            bad.append(good[: len(good) // 2])
        elif r == "bad_op":
            bad.append(good.replace('"op":"', '"op":"x', 1))
        else:
            bad.append(f'{{"op":"c",{src},"seq":{d}}}')
    log.bad = {r: reasons.count(r) for r in REASONS}
    pos = np.sort(rng.integers(0, len(lines) + 1, n_bad))
    out = []
    prev = 0
    for p, line in zip(pos.tolist(), bad):
        out.extend(lines[prev:p])
        out.append(line)
        prev = p
    out.extend(lines[prev:])
    return out


def write_chunk(table_or_lines, path: str) -> None:
    """Write one spool chunk atomically (the file source sees whole
    files only)."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    if isinstance(table_or_lines, pa.Table):
        pq.write_table(table_or_lines, tmp, compression="zstd")
    else:
        with open(tmp, "w") as f:
            f.write("\n".join(table_or_lines) + "\n")
    os.replace(tmp, path)
