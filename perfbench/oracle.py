"""Output checks: result digests, the detector and join-variant
comparisons, and the in-memory model of the store's ``messages`` table.

Pure Python/pandas so the self-tests can plant wrong results without a
Spark session.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def _norm_value(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    if v is None:
        return "\0null"
    return str(v)


def digest(rows, cols) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    floats to 6 significant digits, rows sorted (the repo's parity rule)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_value(r[i]) for i in idx) for r in rows)
    h = hashlib.sha1()
    h.update("\x1f".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()


def frames_digest(frames: dict[str, pd.DataFrame]) -> str:
    """Digest of input tables (row order included)."""
    h = hashlib.sha1()
    for name in sorted(frames):
        h.update(name.encode())
        h.update(pd.util.hash_pandas_object(frames[name], index=False).to_numpy().tobytes())
    return h.hexdigest()


def duck_digest(con, sql: str) -> tuple[str, int]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return digest(rows, cols), len(rows)


# --- streaming detector -------------------------------------------------------


def detector_expectation(batch_alerts: pd.DataFrame, final_wm_ms: int) -> dict:
    """What the stateful detector must emit, from the batch twin
    ``timeout_alerts_batch``: an alert for every message delivered late
    (classified in event time) or whose deadline the final watermark
    reached, and one ``late_delivered`` per late delivery."""
    late = batch_alerts["resolved_late"].astype(bool)
    due = batch_alerts["alert_time"] <= final_wm_ms
    return {
        "alerts": set(batch_alerts.loc[late | due, "message_id"]),
        "late_delivered": int(late.sum()),
    }


def check_detector(
    alert_ids: list[str], kind_counts: dict[str, int], expected: dict, delivered_in_time: int
) -> list[str]:
    problems = []
    if len(alert_ids) != len(set(alert_ids)):
        problems.append("duplicate alerts")
    got = set(alert_ids)
    if got != expected["alerts"]:
        problems.append(
            f"alert set differs: {len(got - expected['alerts'])} unexpected, "
            f"{len(expected['alerts'] - got)} missing"
        )
    if kind_counts.get("alert", 0) != len(alert_ids):
        problems.append("summary alert count differs from alert sink")
    if kind_counts.get("late_delivered", 0) != expected["late_delivered"]:
        problems.append(
            f"late_delivered {kind_counts.get('late_delivered', 0)} != {expected['late_delivered']}"
        )
    if kind_counts.get("delivered", 0) != delivered_in_time:
        problems.append(f"delivered {kind_counts.get('delivered', 0)} != {delivered_in_time}")
    return problems


# --- join variant ---------------------------------------------------------------


def check_join(got: pd.DataFrame, batch: pd.DataFrame, final_wm_ms: int, timeout_ms: int) -> list[str]:
    """Streaming join output vs its batch twin.  Matched rows emit as
    soon as both sides arrive; alert (outer) rows only once the final
    watermark passed ``first_sent + timeout`` — the variant's documented
    flush rule — so only those windows are required."""
    problems = []
    if got["message_id"].duplicated().any():
        problems.append("duplicate join rows")
    b = batch.set_index("message_id")
    g = got.drop_duplicates("message_id").set_index("message_id")
    unknown = g.index.difference(b.index)
    if len(unknown):
        problems.append(f"{len(unknown)} rows for unknown messages")
    common = g.index.intersection(b.index)
    if (g.loc[common, "alerted"].astype(bool) != b.loc[common, "alerted"].astype(bool)).any():
        problems.append("alerted differs from batch twin")
    dg = g.loc[common, "delivered_ms"].fillna(-1).astype("int64")
    db = b.loc[common, "delivered_ms"].fillna(-1).astype("int64")
    if (dg != db).any():
        problems.append("delivered_ms differs from batch twin")
    closed = b["first_sent_ms"] + timeout_ms < final_wm_ms
    required = b.index[(~b["alerted"].astype(bool)) | closed]
    missing = required.difference(g.index)
    if len(missing):
        problems.append(f"{len(missing)} required rows missing")
    return problems


# --- store model -----------------------------------------------------------------

LOOKUP_COLS = [
    "message_id",
    "phone_number",
    "carrier",
    "status",
    "delivery_type",
    "sent_time",
    "delivered_time",
    "last_heartbeat",
]


def _plain(v):
    """pandas cells as Spark returns them: nullable longs come back from
    pandas as floats with NaN for null."""
    if isinstance(v, float):
        return None if math.isnan(v) else int(v)
    return v


class MessagesModel:
    """What ``insert_or_ignore`` must leave in the ``messages`` table:
    the first row per key, in insertion order.  Version ``n`` is the
    table after its first ``n`` rows."""

    def __init__(self) -> None:
        self.rows: dict[str, tuple] = {}
        self.pos: dict[str, int] = {}
        self.order: list[str] = []

    @property
    def version(self) -> int:
        return len(self.order)

    def fresh_keys(self, batch: pd.DataFrame) -> list[str]:
        seen: set[str] = set()
        out = []
        for k in batch["message_id"]:
            if k not in self.rows and k not in seen:
                seen.add(k)
                out.append(k)
        return out

    def insert(self, batch: pd.DataFrame) -> int:
        fresh = set(self.fresh_keys(batch))
        first = batch.drop_duplicates("message_id")
        n = 0
        for row in first[LOOKUP_COLS].itertuples(index=False, name=None):
            if row[0] in fresh:
                self.pos[row[0]] = len(self.order)
                self.rows[row[0]] = tuple(_plain(v) for v in row)
                self.order.append(row[0])
                n += 1
        return n

    def lookup(self, key: str, version: int) -> list[tuple]:
        if self.pos.get(key, version) < version:
            return [self.rows[key]]
        return []

    def active_per_carrier(self, version: int) -> list[tuple]:
        counts: dict[str, int] = {}
        for k in self.order[:version]:
            r = self.rows[k]
            if r[3] != "delivered":
                counts[r[2]] = counts.get(r[2], 0) + 1
        return sorted(counts.items())
