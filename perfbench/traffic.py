"""Seeded CDC traffic for the benchmark: a bank ledger's TRANSACTIONS table
as Debezium change envelopes.

The same seed always yields the same accounts, ledger and events. The
traffic varies what the five notification flows depend on:

- key skew: accounts are drawn from a Zipf distribution over a shuffled
  id space, so a few accounts are hot and most are cold;
- amounts on both sides of the high-value limit (500,000 NGN), including
  the exact boundary values 500,000.00 and 499,999.99;
- bursts of six completed debits on one account inside one 60 s window
  (fraud velocity fires at five);
- big spenders whose debits in one day pass 1,000,000 NGN (daily spend);
- dormant accounts with a single debit followed by 30+ quiet days;
- a real running ledger: BALANCE_BEFORE/BALANCE_AFTER chain per account,
  with a share of injected discrepancies (balance reconciliation HIGH);
- the Debezium op mix c/u/r/d (deletes carry only the `before` image);
- a small share of events whose event time lies behind the watermark.

Run as a script, it is the live-feed generator process: it publishes one
parquet file of envelopes per tick on a fixed schedule (open loop) into the
app's source directory and writes a manifest of due/publish times and
ground-truth counts when it ends.

    python3 perfbench/traffic.py live --dir D --manifest M.json \
        --seed 1 --start-us T --seconds 20
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import json
import math
import os
import random
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

HIGH_VALUE_NGN = 500_000.0  # the app's default high-value limit (AppConfig)
ZIPF_S = 1.0
N_DORMANT = 24
US_PER_S = 1_000_000
US_PER_DAY = 86_400 * US_PER_S

# the live feed: one parquet file of LIVE_EVENTS_PER_TICK changes (plus
# bursts, big spenders and late changes, about 45 changes/s in all) every
# LIVE_PERIOD_MS, after a LIVE_SNAPSHOT-change snapshot, over LIVE_ACCOUNTS
# accounts. Each file is one latency sample: 40 in a 15 s feed, so that
# p75 has ten beyond it. See perfbench/README.md for why this rate.
LIVE_ACCOUNTS = 2_000
LIVE_SNAPSHOT = 500
LIVE_PERIOD_MS = 375
LIVE_EVENTS_PER_TICK = 16

DEBIT_TYPES = (("DEBIT", 35), ("TRANSFER_OUT", 15), ("FEE", 7), ("LOAN_REPAYMENT", 5))
CREDIT_TYPES = (("CREDIT", 20), ("TRANSFER_IN", 15), ("INTEREST", 3))
CHANNELS = ("MOBILE", "ATM", "INTERNET", "WEB", "API", "POS")

_DEBIT_NAMES = {t for t, _ in DEBIT_TYPES}


def is_debit(txn_type: str) -> bool:
    return txn_type in _DEBIT_NAMES


class Traffic:
    """A seeded ledger that emits transaction envelopes (dicts in the
    TRANSACTION_ENVELOPE layout)."""

    def __init__(self, seed: int, n_accounts: int):
        self.rng = random.Random(seed)
        ids = list(range(1_000_001, 1_000_001 + n_accounts))
        self.rng.shuffle(ids)
        self.dormant = ids[:N_DORMANT]
        self.active = ids[N_DORMANT:]
        cum, acc = [], 0.0
        for rank in range(1, len(self.active) + 1):
            acc += 1.0 / rank**ZIPF_S
            cum.append(acc)
        self._cum = cum
        self.balance = {
            a: round(self.rng.uniform(2e6, 2e7), 2) for a in ids
        }
        self._ids = itertools.count(1)
        self._debit_w = list(itertools.accumulate(w for _, w in DEBIT_TYPES))
        self._credit_w = list(itertools.accumulate(w for _, w in CREDIT_TYPES))

    # -- accounts ----------------------------------------------------------
    def account_envelopes(self) -> list[dict]:
        """Static ACCOUNTS snapshot for the high-value enrich side. One in
        twenty accounts is left out, so alerts also take the 'N/A' path."""
        out = []
        for a in sorted(self.balance):
            if a % 20 == 7:
                continue
            img = {
                "ACCOUNT_ID": float(a), "CUSTOMER_ID": float(a // 2),
                "ACCOUNT_NUMBER": f"{a:010d}", "ACCOUNT_TYPE": "SAVINGS",
                "CURRENCY": "NGN", "BALANCE": self.balance[a],
                "AVAILABLE_BALANCE": self.balance[a], "OVERDRAFT_LIMIT": 0.0,
                "INTEREST_RATE": 0.0, "ACCOUNT_STATUS": "ACTIVE",
                "OPENED_DATE": 1_577_836_800_000, "CLOSED_DATE": None,
                "CREATED_AT": None, "UPDATED_AT": None,
            }
            out.append({"before": None, "after": img, "op": "r", "ts_ms": 0,
                        "source": None, "transaction": None})
        return out

    # -- events ------------------------------------------------------------
    def _pick_account(self) -> int:
        x = self.rng.random() * self._cum[-1]
        return self.active[bisect.bisect_left(self._cum, x)]

    def _pick_type(self, debit: bool) -> str:
        types, w = (DEBIT_TYPES, self._debit_w) if debit else (CREDIT_TYPES, self._credit_w)
        x = self.rng.random() * w[-1]
        return types[bisect.bisect_left(w, x)][0]

    def _amount(self) -> float:
        r = self.rng.random()
        if r < 0.025:
            return round(self.rng.uniform(HIGH_VALUE_NGN, 950_000.0), 2)
        if r < 0.0275:
            return 500_000.0
        if r < 0.03:
            return 499_999.99
        return round(min(math.exp(self.rng.gauss(math.log(20_000), 1.2)), 450_000.0), 2)

    def _envelope(self, acct: int, txn_type: str, amount: float, status: str,
                  t_us: int, op: str, ref: str | None = None) -> dict:
        txn_id = next(self._ids)
        img = {
            "TRANSACTION_ID": float(txn_id), "ACCOUNT_ID": float(acct),
            "TRANSACTION_REF": ref or f"REF-{txn_id}",
            "TRANSACTION_TYPE": txn_type, "AMOUNT": amount, "CURRENCY": "NGN",
            "BALANCE_BEFORE": None, "BALANCE_AFTER": None,
            "DESCRIPTION": None, "COUNTERPARTY_NAME": None,
            "COUNTERPARTY_ACCT": None,
            "CHANNEL": CHANNELS[txn_id % len(CHANNELS)],
            "TRANSACTION_STATUS": status, "INITIATED_AT": t_us,
            "COMPLETED_AT": t_us if status == "COMPLETED" else None,
            "CREATED_AT": t_us, "UPDATED_AT": t_us,
        }
        return {
            "before": img if op == "d" else None,
            "after": None if op == "d" else img,
            "op": op,
            "ts_ms": t_us // 1000,
            "source": {
                "version": "2.4", "connector": "oracle", "name": "xepdb1",
                "ts_ms": t_us // 1000, "snapshot": "true" if op == "r" else "false",
                "db": "XEPDB1", "schema": "BANKDB", "table": "TRANSACTIONS",
                "txId": str(txn_id), "scn": str(txn_id), "lcr_position": None,
            },
            "transaction": None,
        }

    def apply_ledger(self, envs: list[dict]) -> None:
        """Fill BALANCE_BEFORE/BALANCE_AFTER in list (= arrival) order for
        every completed, non-deleted, non-late change: BEFORE is the
        account's running balance (3% carry an injected discrepancy),
        AFTER is that balance plus the signed amount. A debit the account
        cannot cover is booked as a credit."""
        for e in envs:
            img = e["after"]
            if (img is None or img["TRANSACTION_STATUS"] != "COMPLETED"
                    or img["TRANSACTION_REF"].startswith("LATE-")):
                continue
            acct = int(img["ACCOUNT_ID"])
            prior, amount = self.balance[acct], img["AMOUNT"]
            if is_debit(img["TRANSACTION_TYPE"]) and prior - amount < 0:
                img["TRANSACTION_TYPE"] = "CREDIT"
            signed = -amount if is_debit(img["TRANSACTION_TYPE"]) else amount
            err = 0.0
            if self.rng.random() < 0.03:
                err = self.rng.choice((7.5, -250.0, 0.02))
            img["BALANCE_BEFORE"] = round(prior + err, 2)
            img["BALANCE_AFTER"] = self.balance[acct] = round(prior + signed, 2)

    def event(self, t_us: int, op: str | None = None) -> dict:
        """One ordinary transaction change."""
        if op is None:
            r = self.rng.random()
            op = "d" if r < 0.05 else ("u" if r < 0.12 else "c")
        debit = self.rng.random() < 0.62
        r = self.rng.random()
        status = "COMPLETED" if r < 0.91 else ("PENDING" if r < 0.97 else "FAILED")
        return self._envelope(self._pick_account(), self._pick_type(debit),
                              self._amount(), status, t_us, op)

    def burst(self, t_us: int, op: str = "c", n: int = 6) -> list[dict]:
        """n completed debits on one account, 1 s apart, ending at t_us
        (fraud velocity: five in one 60 s window)."""
        acct = self._pick_account()
        return [
            self._envelope(acct, "DEBIT", round(self.rng.uniform(1_000, 50_000), 2),
                           "COMPLETED", t_us - (n - 1 - i) * US_PER_S, op)
            for i in range(n)
        ]

    def spender(self, t_us: int, op: str = "c", gap_us: int = 600 * US_PER_S) -> list[dict]:
        """Three debits of 350k-450k NGN, gap_us apart, ending at t_us
        (daily spend)."""
        acct = self._pick_account()
        return [
            self._envelope(acct, "TRANSFER_OUT", round(self.rng.uniform(350_000, 450_000), 2),
                           "COMPLETED", t_us - (2 - i) * gap_us, op)
            for i in range(3)
        ]

    def late(self, t_us: int, lag_us: int) -> dict:
        """A small completed debit whose event time is `lag_us` behind its
        arrival. It carries no balances and stays under every threshold, so
        only the windowed flows see it."""
        return self._envelope(self._pick_account(), "DEBIT",
                              round(self.rng.uniform(10, 900), 2), "COMPLETED",
                              t_us - lag_us, "c",
                              ref=f"LATE-{self.rng.getrandbits(40)}")

    def dormant_debit(self, acct: int, t_us: int, op: str = "c") -> dict:
        return self._envelope(acct, "DEBIT", round(self.rng.uniform(1_000, 20_000), 2),
                              "COMPLETED", t_us, op)


def initiated_at(env: dict) -> int:
    img = env["after"] or env["before"]
    return img["INITIATED_AT"]


def is_late(env: dict) -> bool:
    img = env["after"] or env["before"]
    return img["TRANSACTION_REF"].startswith("LATE-")


def ground_truth(envs: list[dict]) -> dict[str, int]:
    """What the stateless flows must emit for these envelopes: one
    high-value alert per parsed row at or above the limit, one balance
    notification per eligible (COMPLETED, non-negative balance) row."""
    hv = bal = 0
    for e in envs:
        a = e["after"]
        if e["op"] == "d" or a is None or not a["ACCOUNT_ID"]:
            continue
        hv += a["AMOUNT"] >= HIGH_VALUE_NGN
        bal += (a["TRANSACTION_STATUS"] == "COMPLETED"
                and a["BALANCE_AFTER"] is not None and a["BALANCE_AFTER"] >= 0)
    return {"events": len(envs), "high_value": hv, "balance": bal}


# -- workload inputs -------------------------------------------------------


def snapshot(tr: Traffic, now_us: int, n: int) -> list[dict]:
    """Initial Debezium snapshot (op 'r') of the last 40 days of history,
    oldest first. Dormant accounts get one debit early in the window, so
    their 30-day sessions close as soon as live traffic moves the
    watermark to the present."""
    t0 = now_us - 40 * US_PER_DAY
    span = 39 * US_PER_DAY
    envs = [tr.event(t0 + tr.rng.randrange(span), op="r") for _ in range(n)]
    for _ in range(max(1, n // 300)):
        envs += tr.burst(t0 + tr.rng.randrange(span), op="r")
        envs += tr.spender(t0 + tr.rng.randrange(span), op="r")
    for acct in tr.dormant:
        envs.append(tr.dormant_debit(acct, t0 + tr.rng.randrange(5 * US_PER_DAY), op="r"))
    envs.sort(key=initiated_at)
    tr.apply_ledger(envs)
    return envs


LATE_LAG_DAYS = 25


def backlog(tr: Traffic, base_us: int, n: int, days: int = 40) -> list[dict]:
    """About n changes over `days` days, in arrival order = event-time
    order. Late events (1%, from day 27 on) arrive in order but carry an
    event time 25 days in the past: once the drain is two batches in,
    behind the watermark of the 60 s and daily windows."""
    span = days * US_PER_DAY
    envs: list[dict] = []
    for acct in tr.dormant:  # one debit in the first 8 days, the next 31-35 days later
        t = base_us + tr.rng.randrange(8 * US_PER_DAY)
        envs.append(tr.dormant_debit(acct, t))
        envs.append(tr.dormant_debit(acct, t + tr.rng.randint(31, 35) * US_PER_DAY))
    late = []
    while len(envs) + len(late) < n:
        t = base_us + tr.rng.randrange(span)
        r = tr.rng.random()
        if r < 0.004:
            envs += tr.burst(t)
        elif r < 0.006:
            envs += tr.spender(t)
        elif r < 0.016 and t - base_us > (LATE_LAG_DAYS + 2) * US_PER_DAY:
            late.append((t, tr.late(t, LATE_LAG_DAYS * US_PER_DAY)))
        else:
            envs.append(tr.event(t))
    envs.sort(key=initiated_at)
    tr.apply_ledger(envs)
    times = [initiated_at(e) for e in envs]
    for t, e in sorted(late, key=lambda x: x[0]):  # arrival position = t
        i = bisect.bisect_right(times, t)
        times.insert(i, t)
        envs.insert(i, e)
    return envs


def live_tick(tr: Traffic, k: int, now_us: int) -> list[dict]:
    """Tick k of live traffic: LIVE_EVENTS_PER_TICK changes created now
    (event time = creation time); every 13th tick adds a burst, every
    21st a big spender, every 5th a change 10 minutes late."""
    envs = [tr.event(now_us) for _ in range(LIVE_EVENTS_PER_TICK)]
    if k % 13 == 6:
        envs += tr.burst(now_us)
    if k % 21 == 10:
        envs += tr.spender(now_us, gap_us=1000)
    if k % 5 == 2:
        envs.append(tr.late(now_us, 600 * US_PER_S))
    envs.sort(key=initiated_at)
    tr.apply_ledger(envs)
    return envs


# -- file formats ----------------------------------------------------------


def arrow_schema(spark_type) -> pa.DataType:
    """pyarrow type of a pyspark StructType (the envelope schemas)."""
    from pyspark.sql import types as T

    if isinstance(spark_type, T.StructType):
        return pa.struct([pa.field(f.name, arrow_schema(f.dataType)) for f in spark_type.fields])
    return {
        T.DoubleType: pa.float64(), T.LongType: pa.int64(), T.StringType: pa.string(),
        T.BinaryType: pa.binary(),
    }[type(spark_type)]


def avro_schema(spark_type, name: str = "Envelope") -> dict:
    """Avro writer schema for a pyspark StructType: nullable fields become
    ["null", T] unions, the row-image record is defined once (`before`) and
    referenced by name (`after`), as in the Debezium writer schemas."""
    from pyspark.sql import types as T

    named: set[str] = set()

    def conv(dt, rec_name):
        if isinstance(dt, T.StructType):
            if rec_name in named:
                return rec_name
            named.add(rec_name)
            return {"type": "record", "name": rec_name, "fields": [
                {"name": f.name, "type": field_type(f, f"{rec_name}_{f.name}")}
                for f in dt.fields
            ]}
        return {T.DoubleType: "double", T.LongType: "long", T.StringType: "string"}[type(dt)]

    def field_type(f, rec_name):
        if f.name in ("before", "after"):
            rec_name = "Value"
        t = conv(f.dataType, rec_name)
        return ["null", t] if f.nullable else t

    return conv(spark_type, name)


def write_envelopes(path: str, envs: list[dict], schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pylist(envs, schema=schema), path)


def publish(tmp_path: str, final_path: str) -> float:
    """Atomic publish into the watched directory; returns the wall time."""
    os.replace(tmp_path, final_path)
    return time.time()


# -- live generator process -----------------------------------------------


def live_main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="traffic.py live")
    ap.add_argument("--dir", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start-us", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args(argv)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cdc_stream_processor_spark import schemas

    tr = Traffic(a.seed, LIVE_ACCOUNTS)
    snapshot(tr, a.start_us, LIVE_SNAPSHOT)  # replay the ledger up to now
    schema = pa.schema(arrow_schema(schemas.TRANSACTION_ENVELOPE))
    tmp_dir = os.path.join(os.path.dirname(os.path.abspath(a.dir)), "gen_tmp")
    os.makedirs(tmp_dir, exist_ok=True)

    period = LIVE_PERIOD_MS / 1000.0
    n_ticks = max(1, int(round(a.seconds / period)))
    t0 = time.time() + 0.05
    files = []
    for k in range(n_ticks):
        due = t0 + k * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        envs = live_tick(tr, k, int(time.time() * US_PER_S))
        name = f"tick-{k:06d}.parquet"
        tmp = os.path.join(tmp_dir, name)
        write_envelopes(tmp, envs, schema)
        published = publish(tmp, os.path.join(a.dir, name))
        files.append({"name": name, "due": due, "published": published,
                      **ground_truth(envs)})
    lateness = sorted(f["published"] - f["due"] for f in files)
    with open(a.manifest + ".tmp", "w") as fh:
        json.dump({"files": files,
                   "late_p50_ms": 1000 * lateness[len(lateness) // 2],
                   "late_max_ms": 1000 * lateness[-1]}, fh)
    os.replace(a.manifest + ".tmp", a.manifest)
    return 0


if __name__ == "__main__":
    if len(sys.argv) < 2 or sys.argv[1] != "live":
        print("usage: traffic.py live --dir D --manifest M ...", file=sys.stderr)
        sys.exit(2)
    sys.exit(live_main(sys.argv[2:]))
