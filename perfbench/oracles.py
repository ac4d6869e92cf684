"""Independent oracles: expected outputs computed from the generators'
ground truth with numpy and DuckDB, never with the program's code.

* ``CdcExpectation`` tracks the expected CDC snapshot state in numpy
  and checks each read of the pos loop;
* ``check_pos_final`` checks the final silver change table, CDC state
  and gold table with DuckDB;
* ``check_corpus`` scores dedup decisions against generator labels.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import numpy as np
import pandas as pd

import gen_corpus
import gen_pos

#: Corpus decisions must reach these scores against the labels.
MIN_NEAR_RECALL = 0.95
MAX_FALSE_DUP_FRAC = 0.01


def _us(ts: dt.datetime) -> int:
    """Epoch µs of a timestamp returned by ``collect`` (naive, in the
    process time zone, which the benchmark pins to UTC)."""
    return int(round(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000))


class CdcExpectation:
    """Expected CDC state after each trigger, keyed by store * items + item."""

    def __init__(self, inputs: gen_pos.PosInputs) -> None:
        c = inputs.config
        self.inputs = inputs
        self.items = c.items
        n = c.stores * c.items
        self.qty = np.zeros(n, np.int64)
        self.dt_us = np.zeros(n, np.int64)
        self.ts_ms = np.full(n, -1, np.int64)
        self.rows_ingested = 0
        self.bursts_written = 0
        # sizes of the final silver change table and gold table
        self.silver_rows = 0
        self.gold_rows = 0
        s = inputs.snapshot_rows
        self._key = s["store_id"] * c.items + (s["item_id"] - gen_pos.FIRST_ITEM_ID)

    def apply_burst(self, burst: int, new_keys: np.ndarray | None = None) -> np.ndarray:
        s = self.inputs.snapshot_rows
        sel = np.flatnonzero(s["burst"] == burst)
        keys = self._key[sel]
        newer = s["ts_ms"][sel] > self.ts_ms[keys]
        k, r = keys[newer], sel[newer]
        self.qty[k] = s["quantity"][r]
        self.dt_us[k] = s["date_time_us"][r]
        self.ts_ms[k] = s["ts_ms"][r]
        self.rows_ingested += len(sel)
        if burst >= 0:
            self.bursts_written = burst + 1
        return k if new_keys is None else np.union1d(new_keys, k)

    def key(self, store: int, item: int) -> int:
        return store * self.items + (item - gen_pos.FIRST_ITEM_ID)

    def check_reads(self, res: dict, new_keys, store: int = 0,
                    item_lo: int = gen_pos.FIRST_ITEM_ID) -> list[str]:
        """Problems found in one round of reads (empty when all agree)."""
        from pos_stream import LOWSTOCK_ROWS, RANGE_ITEMS

        problems = []
        rows = res["gold_store"][1]
        if len(rows) != self.items:
            problems.append(f"gold_store: {len(rows)} rows, expected {self.items}")
        for r in rows:
            k = self.key(store, r["item_id"])
            if (r["snapshot_quantity"] != self.qty[k]
                    or r["current_inventory"] != r["snapshot_quantity"] + r["change_quantity"]):
                problems.append(f"gold_store: wrong row {r}")
                break
        low = [r["current_inventory"] for r in res["gold_lowstock"][1]]
        store_min = min((r["current_inventory"] for r in res["gold_store"][1]), default=None)
        if len(low) != LOWSTOCK_ROWS or low != sorted(low):
            problems.append(f"gold_lowstock: {low}")
        elif store_min is not None and store_min < low[0]:
            problems.append("gold_lowstock: the store read holds a lower row")
        rows = res["cdc_current"][1]
        want = self.inputs.config.stores * RANGE_ITEMS
        if len(rows) != want:
            problems.append(f"cdc_current: {len(rows)} rows, expected {want}")
        for r in rows:
            k = self.key(r["store_id"], r["item_id"])
            if not item_lo <= r["item_id"] < item_lo + RANGE_ITEMS or \
                    r["quantity"] != self.qty[k] or _us(r["date_time_ts"]) != self.dt_us[k]:
                problems.append(f"cdc_current: wrong row {r}")
                break
        rows = res["cdc_changes_since"][1]
        want = 0 if new_keys is None else len(new_keys)
        if len(rows) != want:
            problems.append(f"cdc_changes_since: {len(rows)} rows, expected {want}")
        return problems


_GOLD_SQL = """
WITH corrected AS (
    SELECT x.store_id, x.item_id, x.us, x.quantity
    FROM silver x
    JOIN store y ON x.store_id = y.store_id
    JOIN ctype z ON x.change_type_id = z.change_type_id
    WHERE NOT (y.name = 'online' AND z.change_type = 'bopis')
)
SELECT a.store_id, a.item_id,
       a.quantity AS snapshot_quantity,
       COALESCE(SUM(b.quantity), 0) AS change_quantity,
       a.quantity + COALESCE(SUM(b.quantity), 0) AS current_inventory,
       GREATEST(a.us, COALESCE(MAX(b.us), a.us)) AS us
FROM snap a
LEFT JOIN corrected b
  ON a.store_id = b.store_id AND a.item_id = b.item_id AND a.us <= b.us
GROUP BY a.store_id, a.item_id, a.quantity, a.us
"""


def check_pos_final(spark, pipe, msg_trigger: np.ndarray) -> list[str]:
    """Silver, CDC state and gold at the end of a pos run against DuckDB
    over the generator's ground truth. Returns the problems found."""
    inputs = pipe.inputs
    problems: list[str] = []
    con = duckdb.connect()
    try:
        c = inputs.change_rows
        trig = msg_trigger[c["msg"]]
        ing = trig >= 0
        truth = pd.DataFrame({
            "trans_id": np.asarray(inputs.trans_ids, dtype=object)[c["tx"][ing]],
            "item_id": c["item_id"][ing], "store_id": c["store_id"][ing],
            "us": c["date_time_us"][ing], "change_type_id": c["change_type_id"][ing],
            "quantity": c["quantity"][ing], "trig": trig[ing],
        })
        con.register("truth", truth)
        con.execute(f"""
            CREATE TABLE silver AS
            SELECT trans_id, CAST(item_id AS BIGINT) item_id, CAST(store_id AS BIGINT) store_id,
                   epoch_us(date_time) us, CAST(change_type_id AS BIGINT) change_type_id,
                   CAST(quantity AS BIGINT) quantity
            FROM read_parquet('{pipe.out_root}/inventory_change/*.parquet')""")
        # the survivor of a (trans_id, item_id) key comes from its earliest
        # trigger; copies inside one trigger may survive either way
        n_prog, n_keys, n_dupkeys, n_unmatched = con.execute("""
            WITH cand AS (
                SELECT * FROM truth
                QUALIFY trig = MIN(trig) OVER (PARTITION BY trans_id, item_id))
            SELECT (SELECT COUNT(*) FROM silver),
                   (SELECT COUNT(*) FROM (SELECT DISTINCT trans_id, item_id FROM truth)),
                   (SELECT COUNT(*) FROM (SELECT trans_id, item_id FROM silver
                                          GROUP BY ALL HAVING COUNT(*) > 1)),
                   (SELECT COUNT(*) FROM silver s ANTI JOIN cand c
                      ON s.trans_id = c.trans_id AND s.item_id = c.item_id
                     AND s.store_id = c.store_id AND s.us = c.us
                     AND s.change_type_id = c.change_type_id AND s.quantity = c.quantity)
        """).fetchone()
        pipe.expected.silver_rows = n_prog
        if (n_prog, n_dupkeys, n_unmatched) != (n_keys, 0, 0):
            problems.append(
                f"silver: {n_prog} rows for {n_keys} keys, {n_dupkeys} duplicated keys, "
                f"{n_unmatched} rows unlike any first-arrived copy")

        # expected CDC state: latest envelope per key among those ingested
        s = inputs.snapshot_rows
        ing_s = s["burst"] < pipe.expected.bursts_written
        snaps = pd.DataFrame({k: v[ing_s] for k, v in s.items()})
        con.register("snaps", snaps)
        con.execute("""
            CREATE TABLE snap AS
            SELECT store_id, item_id, quantity, date_time_us AS us FROM snaps
            QUALIFY ROW_NUMBER() OVER (PARTITION BY store_id, item_id ORDER BY ts_ms DESC) = 1""")
        cur = pipe.target.current(spark).select(
            "store_id", "item_id", "quantity", "date_time_ts").toPandas()
        cur["us"] = (cur.pop("date_time_ts").astype("datetime64[us]")
                     .astype("int64"))
        con.register("cur", cur)
        n_cur, n_diff = con.execute("""
            SELECT (SELECT COUNT(*) FROM cur),
                   (SELECT COUNT(*) FROM (
                      (SELECT store_id::BIGINT, item_id::BIGINT, quantity::BIGINT, us FROM cur
                       EXCEPT ALL SELECT store_id, item_id, quantity, us FROM snap)
                      UNION ALL
                      (SELECT store_id, item_id, quantity, us FROM snap
                       EXCEPT ALL SELECT store_id::BIGINT, item_id::BIGINT, quantity::BIGINT, us
                       FROM cur)))""").fetchone()
        n_snap = con.execute("SELECT COUNT(*) FROM snap").fetchone()[0]
        if n_cur != n_snap or n_diff:
            problems.append(f"cdc state: {n_cur} rows vs {n_snap} expected, {n_diff} differ")

        con.register("store", pd.DataFrame({
            "store_id": np.arange(inputs.config.stores),
            "name": ["online"] + [f"store_{k:03d}" for k in range(1, inputs.config.stores)]}))
        con.register("ctype", pd.DataFrame({
            "change_type_id": [k for k, _ in gen_pos.CHANGE_TYPES],
            "change_type": [n for _, n in gen_pos.CHANGE_TYPES]}))
        con.execute(f"CREATE TABLE expected AS {_GOLD_SQL}")
        con.execute(f"""
            CREATE TABLE gold AS
            SELECT store_id::BIGINT store_id, item_id::BIGINT item_id,
                   snapshot_quantity::BIGINT snapshot_quantity,
                   change_quantity::BIGINT change_quantity,
                   current_inventory::BIGINT current_inventory, epoch_us(date_time) us
            FROM read_parquet('{pipe.gold_dir}/*.parquet')""")
        n_gold, n_exp, n_diff = con.execute("""
            SELECT (SELECT COUNT(*) FROM gold), (SELECT COUNT(*) FROM expected),
                   (SELECT COUNT(*) FROM ((SELECT * FROM gold EXCEPT ALL SELECT * FROM expected)
                    UNION ALL (SELECT * FROM expected EXCEPT ALL SELECT * FROM gold)))
        """).fetchone()
        pipe.expected.gold_rows = n_gold
        if n_gold != n_exp or n_diff:
            problems.append(f"gold: {n_gold} rows vs {n_exp} expected, {n_diff} differ")
    finally:
        con.close()
    return problems


def check_corpus(labels: np.ndarray, is_novel: np.ndarray) -> tuple[dict, list[str]]:
    """Scores of the dedup decisions against the generator's labels and
    the problems (resends must all be caught; near-dup recall and the
    false-duplicate share must meet the fixed thresholds)."""
    dup = labels != gen_corpus.NOVEL
    flagged = ~is_novel
    resend = labels == gen_corpus.RESEND
    near = labels == gen_corpus.NEAR
    novel = labels == gen_corpus.NOVEL
    scores = {
        "quality.dup_recall": float(flagged[dup].mean()) if dup.any() else 1.0,
        "quality.near_dup_recall": float(flagged[near].mean()) if near.any() else 1.0,
        "quality.false_dup_frac": float(flagged[novel].mean()) if novel.any() else 0.0,
    }
    problems = []
    if not flagged[resend].all():
        problems.append(f"{int((~flagged[resend]).sum())} exact re-sends judged novel")
    if scores["quality.near_dup_recall"] < MIN_NEAR_RECALL:
        problems.append(f"near-dup recall {scores['quality.near_dup_recall']:.4f} "
                        f"< {MIN_NEAR_RECALL}")
    if scores["quality.false_dup_frac"] > MAX_FALSE_DUP_FRAC:
        problems.append(f"false-dup share {scores['quality.false_dup_frac']:.4f} "
                        f"> {MAX_FALSE_DUP_FRAC}")
    return scores, problems
