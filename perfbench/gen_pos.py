"""Seeded point-of-sale traffic for the ``pos_inventory_stream`` workload.

Self-contained on purpose: nothing here imports the program under test.
The generator emits the program's wire shapes as JSON text:

* transaction events, one JSON document per transaction with an
  ``items`` array — the shape of ``schemas.TRANSACTION_EVENT_SCHEMA``
  (``trans_id, store_id, date_time, change_type_id, items[item_id,
  quantity]``), wrapped as ``{"value": "<doc>"}`` topic lines;
* Debezium snapshot envelopes — ``{"key": "<{item_id, store_id}>",
  "value": "<{before, after{item_id, store_id, employee_id, date_time
  (epoch µs), quantity}, op, ts_ms, transaction}>"}`` topic lines, the
  shape of ``schemas.CDC_KEY_SCHEMA`` / ``CDC_VALUE_SCHEMA``.

Traffic model (every draw comes from one ``numpy`` generator seeded by
the workload seed, so a seed always yields byte-identical inputs):

* ``stores`` stores (store 0 is the ``online`` store) x ``items`` items;
  every (store, item) key gets an initial snapshot before the stream
  starts, so the key count is ``stores * items``;
* transactions arrive as a Poisson process at ``rate`` per wall second;
  event time runs ``EVENT_PER_WALL`` times faster than wall time (the
  reference replays its feeds at a fixed speed-up the same way);
* item popularity is Zipf(``ZIPF_S``) over a seeded item permutation;
* ``LATE_FRAC`` of the transactions carry an event time up to
  ``LATE_MAX_H`` hours behind their arrival (out of order, inside the
  pipeline's 14 h watermark);
* ``DUP_FRAC`` of the transactions are BOPIS pickups that are re-sent
  2-13.7 event-hours later with the same trans_id, store and items and
  a later ``date_time`` — the duplicate pattern of the reference data;
* every ``burst_every_s`` wall seconds one store's full snapshot (all
  ``items`` rows) arrives as a burst of CDC envelopes.

Ground truth for the oracles is kept as numpy arrays next to the text.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

#: 2026-01-01T00:00:00Z — event time of the first transaction.
BASE_EPOCH_S = 1_767_225_600
FIRST_ITEM_ID = 100_001
#: change types of the reference (FIXTURES.md A1).
CHANGE_TYPES = ((1, "sale"), (2, "shrink"), (3, "restock"), (4, "bopis"))
SALE, SHRINK, RESTOCK, BOPIS = 1, 2, 3, 4
#: BOPIS re-send lag range in event hours (reference pattern).
DUP_LAG_H = (2.0, 13.7)
#: Event seconds per wall second (1 wall second = 1 event hour, so the
#: re-send lags and the 14 h watermark play out within a run).
EVENT_PER_WALL = 3600.0
ZIPF_S = 1.1
LATE_FRAC = 0.05
LATE_MAX_H = 6.0
DUP_FRAC = 0.02


@dataclass(frozen=True)
class PosConfig:
    seconds: float
    rate: float = 400.0
    stores: int = 10
    items: int = 10_000
    burst_every_s: float = 10.0
    first_burst_s: float = 5.0
    #: wall seconds of transactions before the window, ingested at set-up
    warmup_s: float = 0.9


@dataclass
class PosInputs:
    """Pre-serialized topic lines plus ground truth."""

    config: PosConfig
    dims: dict[str, str]
    initial_cdc_lines: list[str]
    # transaction messages in arrival order (originals and re-sends);
    # those due before 0 are the set-up's warm-up traffic
    event_due_s: np.ndarray
    event_lines: list[str]
    # snapshot bursts: (due wall second, topic lines)
    bursts: list[tuple[float, list[str]]]
    # ground truth, one row per (message, item): trans_id index, store,
    # event time µs, change type, item, quantity, message index
    change_rows: dict[str, np.ndarray]
    # ground truth, one row per snapshot envelope: item, store, event
    # time µs, ts_ms, quantity, burst index (-1 = initial snapshot)
    snapshot_rows: dict[str, np.ndarray]
    trans_ids: list[str]
    realized: dict[str, float] = field(default_factory=dict)


def _iso_ms(us: int) -> str:
    s, rem = divmod(us, 1_000_000)
    days, sod = divmod(s, 86_400)
    # civil-from-days (proleptic Gregorian), avoids datetime per row
    z = days + 719_468
    era = z // 146_097
    doe = z - era * 146_097
    yoe = (doe - doe // 1460 + doe // 36_524 - doe // 146_096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    y += m <= 2
    hh, rest = divmod(sod, 3600)
    mm, ss = divmod(rest, 60)
    return f"{y:04d}-{m:02d}-{d:02d}T{hh:02d}:{mm:02d}:{ss:02d}.{rem // 1000:03d}Z"


def _envelope(item: int, store: int, dt_us: int, ts_ms: int, qty: int, op: str) -> str:
    key = f'{{"item_id":{item},"store_id":{store}}}'
    value = (
        f'{{"before":null,"after":{{"item_id":{item},"store_id":{store},'
        f'"employee_id":1,"date_time":{dt_us},"quantity":{qty}}},'
        f'"op":"{op}","ts_ms":{ts_ms},"transaction":null}}'
    )
    return json.dumps({"key": key, "value": value}, separators=(",", ":"))


def _snapshot(rng, store: int, items: np.ndarray, dt_us: int, op: str, burst: int):
    qty = rng.integers(20, 201, size=len(items))
    ts_ms = dt_us // 1000
    lines = [
        _envelope(int(i), store, dt_us, ts_ms, int(q), op) for i, q in zip(items, qty)
    ]
    rows = {
        "item_id": items.astype(np.int64),
        "store_id": np.full(len(items), store, np.int64),
        "date_time_us": np.full(len(items), dt_us, np.int64),
        "ts_ms": np.full(len(items), ts_ms, np.int64),
        "quantity": qty.astype(np.int64),
        "burst": np.full(len(items), burst, np.int64),
    }
    return lines, rows


def generate(seed: int, config: PosConfig) -> PosInputs:
    rng = np.random.default_rng(seed)
    c = config
    base_us = BASE_EPOCH_S * 1_000_000
    item_ids = np.arange(FIRST_ITEM_ID, FIRST_ITEM_ID + c.items, dtype=np.int64)

    dims = {
        "store.txt": "store_id,name\n0,online\n"
        + "".join(f"{s},store_{s:03d}\n" for s in range(1, c.stores)),
        "item.txt": "item_id,name,supplier_id,safety_stock_quantity\n"
        + "".join(
            f"{i},item_{i},{1 + (i * 7) % 50},{10 + (i * 13) % 40}\n" for i in item_ids
        ),
        "inventory_change_type.txt": "change_type_id,change_type\n"
        + "".join(f"{k},{n}\n" for k, n in CHANGE_TYPES),
    }

    # initial snapshot of every key, one event-hour before the stream
    init_us = base_us - 3_600_000_000
    initial_lines: list[str] = []
    snap_parts = []
    for store in range(c.stores):
        lines, rows = _snapshot(rng, store, item_ids, init_us, "c", -1)
        initial_lines.extend(lines)
        snap_parts.append(rows)

    # -- transactions: Poisson arrivals over the window ------------------
    horizon = c.seconds
    n_exp = int(c.rate * (horizon + c.warmup_s) * 1.2) + 64
    gaps = rng.exponential(1.0 / c.rate, size=n_exp)
    due = np.cumsum(gaps) - c.warmup_s
    due = due[due < horizon]
    n = len(due)
    event_us = base_us + np.round(due * EVENT_PER_WALL * 1e3).astype(np.int64) * 1000

    store = rng.integers(0, c.stores, size=n)
    online = store == 0
    u = rng.random(n)
    ctype = np.where(
        online,
        np.where(u < 0.7, SALE, BOPIS),
        np.select([u < 0.78, u < 0.83, u < 0.88], [SALE, SHRINK, RESTOCK], BOPIS),
    )
    # re-sent BOPIS pickups: physical stores only, in order, chosen so the
    # re-sends are dup_frac of all transaction messages
    pickups = np.flatnonzero((ctype == BOPIS) & ~online)
    pickup_lag_h = rng.uniform(*DUP_LAG_H, size=len(pickups))
    fits = due[pickups] + pickup_lag_h * 3600.0 / EVENT_PER_WALL < horizon
    eligible = np.flatnonzero(fits)
    n_dup = min(len(eligible), int(round(DUP_FRAC * n / (1 - DUP_FRAC))))
    pick = np.sort(rng.choice(eligible, size=n_dup, replace=False))
    dup_src, dup_lag_h = pickups[pick], pickup_lag_h[pick]
    in_order = np.ones(n, bool)
    in_order[dup_src] = False
    late_cand = np.flatnonzero(in_order)
    n_late = int(round(LATE_FRAC * n))
    late = rng.choice(late_cand, size=min(n_late, len(late_cand)), replace=False)
    late_shift_ms = np.round(rng.uniform(0.1, LATE_MAX_H, size=len(late)) * 3.6e6)
    event_us[late] -= late_shift_ms.astype(np.int64) * 1000

    # Zipf popularity over a seeded item permutation
    ranks = np.arange(1, c.items + 1, dtype=np.float64)
    pop = ranks ** -ZIPF_S
    pop /= pop.sum()
    perm = rng.permutation(item_ids)
    n_items = rng.choice([1, 2, 3, 4], p=[0.7, 0.15, 0.1, 0.05], size=n)
    total_items = int(n_items.sum())
    flat_items = perm[rng.choice(c.items, size=total_items, p=pop)]
    qty = np.empty(total_items, np.int64)
    owner = np.repeat(np.arange(n), n_items)
    oc = ctype[owner]
    qty[oc == SALE] = -rng.integers(1, 11, size=int((oc == SALE).sum()))
    qty[oc == SHRINK] = -1
    qty[oc == RESTOCK] = rng.choice([40, 50], size=int((oc == RESTOCK).sum()))
    qty[oc == BOPIS] = -rng.integers(1, 10, size=int((oc == BOPIS).sum()))
    # one row per distinct item within a transaction (dedup key is
    # (trans_id, item_id)); repeated draws of an item are merged
    hexes = rng.integers(0, 1 << 62, size=(n, 2), dtype=np.int64)
    trans_ids = [f"{a:016x}-{b:016x}"[:33] for a, b in hexes]

    items_of: list[list[tuple[int, int]]] = [[] for _ in range(n)]
    for o, it, q in zip(owner.tolist(), flat_items.tolist(), qty.tolist()):
        row = items_of[o]
        for k, (it2, q2) in enumerate(row):
            if it2 == it:
                row[k] = (it, q2 + q)
                break
        else:
            row.append((it, q))
    for row in items_of:
        row.sort()

    # messages: originals + re-sends, in arrival order
    dup_due = due[dup_src] + dup_lag_h * 3600.0 / EVENT_PER_WALL
    dup_event_us = event_us[dup_src] + np.round(dup_lag_h * 3.6e6).astype(np.int64) * 1000
    msg_tx = np.concatenate([np.arange(n), dup_src])
    msg_due = np.concatenate([due, dup_due])
    msg_us = np.concatenate([event_us, dup_event_us])
    order = np.argsort(msg_due, kind="stable")
    msg_tx, msg_due, msg_us = msg_tx[order], msg_due[order], msg_us[order]

    event_lines = []
    cols: dict[str, list[int]] = {k: [] for k in (
        "tx", "store_id", "date_time_us", "change_type_id", "item_id", "quantity", "msg"
    )}
    for m, (t, us) in enumerate(zip(msg_tx.tolist(), msg_us.tolist())):
        s, ct = int(store[t]), int(ctype[t])
        items_json = ",".join(
            f'{{"item_id":{it},"quantity":{q}}}' for it, q in items_of[t]
        )
        doc = (
            f'{{"trans_id":"{trans_ids[t]}","store_id":{s},'
            f'"date_time":"{_iso_ms(us)}","change_type_id":{ct},'
            f'"items":[{items_json}]}}'
        )
        event_lines.append(json.dumps({"value": doc}, separators=(",", ":")))
        for it, q in items_of[t]:
            cols["tx"].append(t)
            cols["store_id"].append(s)
            cols["date_time_us"].append(us)
            cols["change_type_id"].append(ct)
            cols["item_id"].append(it)
            cols["quantity"].append(q)
            cols["msg"].append(m)
    change_rows = {k: np.asarray(v, np.int64) for k, v in cols.items()}

    # -- snapshot bursts on a fixed wall schedule ------------------------
    bursts = []
    t = c.first_burst_s
    b = 0
    while t < horizon:
        s = int(rng.integers(0, c.stores))
        dt_us = base_us + int(t * EVENT_PER_WALL) * 1_000_000
        lines, rows = _snapshot(rng, s, item_ids, dt_us, "u", b)
        bursts.append((t, lines))
        snap_parts.append(rows)
        t += c.burst_every_s
        b += 1
    snapshot_rows = {
        k: np.concatenate([p[k] for p in snap_parts]) for k in snap_parts[0]
    }

    realized = {
        "traffic.rate_per_s": len(msg_due) / (horizon + c.warmup_s),
        "traffic.burst_rows": float(c.items),
        "traffic.zipf_s": ZIPF_S,
        "traffic.late_frac": len(late) / max(1, len(msg_due)),
        "traffic.dup_frac": n_dup / max(1, len(msg_due)),
        "traffic.keys": float(c.stores * c.items),
        "traffic.items_per_tx": total_items / max(1, n),
    }
    return PosInputs(
        config=c,
        dims=dims,
        initial_cdc_lines=initial_lines,
        event_due_s=msg_due,
        event_lines=event_lines,
        bursts=bursts,
        change_rows=change_rows,
        snapshot_rows=snapshot_rows,
        trans_ids=trans_ids,
        realized=realized,
    )
