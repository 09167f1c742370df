"""Expected graph-store contents for the ``mock://mixed`` chain, and the
store checker every follow run ends with.

The mock chain (``sources.datasource.mock_transport``) derives every field
from the height, so the graph tables a correct follower writes are known
exactly: one payment edge per height, two witness edges per third height
and the payer/payee account set. Keys are recomputed here with
``hashlib`` over the same ``|``-joined rendering that
``functions.keys.canonical_md5_key`` hashes inside Spark, so a wrong,
missing or duplicated edge is caught by key, not just by count.
"""

from __future__ import annotations

import hashlib
import os

ENDPOINT = "mock://mixed"
BUCKET = 7200  # streaming.sink.RETENTION_BLOCKS: heights per block_bucket
RETENTION = 7200  # run_service's default retention window, in heights
NULL = "\x00"  # canonical_md5_key's NULL token


def _md5(*parts: str) -> str:
    return hashlib.md5("|".join(parts).encode("utf-8")).hexdigest()


def payment_key(h: int) -> str:
    return _md5(
        f"accounts/acct{h % 97}",
        f"accounts/acct{(h * 7) % 89}",
        f"tx{h:012d}",
        str((h * 37) % 100_000 + 1),
        str(h),
        str(1_600_000_000 + h * 60),
    )


def witness_keys(h: int) -> list[str]:
    """The two witness edges of the receipt at height ``h`` (``h % 3 == 0``)."""
    keys = []
    for w in (0, 1):
        has_receipt = h % 2 == 0
        keys.append(
            _md5(
                f"hotspots/hs{h % 11}",
                f"hotspots/hs{(h * 5 + w) % 17}",
                "904.3",
                "SF9BW125",
                "true" if (h + w) % 4 != 0 else "false",
                str(-(70 + (h + w) % 30)),
                str([2.0, 5.5, 9.0][(h + w) % 3]),
                str(h * 1_000_000_000 + (w + 1) * 500_000_000),
                f"pr{h:012d}",
                str(h),
                "27" if has_receipt else NULL,
                str((w + 1) * 0.5) if has_receipt else NULL,
            )
        )
    return keys


def accounts(heights) -> set[str]:
    out: set[str] = set()
    for h in heights:
        out.add(f"acct{h % 97}")
        out.add(f"acct{(h * 7) % 89}")
    return out


def offered(lo: int, hi: int) -> dict[str, int]:
    """Rows each sink is offered by a batch over heights ``lo..hi``."""
    n_receipts = hi // 3 - (lo - 1) // 3
    return {
        "payments": hi - lo + 1,
        "poc_receipts": 2 * n_receipts,
        "accounts": len(accounts(range(lo, hi + 1))),
    }


def seed_frames(spark, lo: int, hi: int):
    """(blocks, txns) for heights ``lo..hi`` built with Spark SQL: the rows
    the ``helium_chain`` reader yields for the same heights, without the
    Python source. Used to seed a store's history cheaply; the store
    checker verifies what the follower made of them."""
    ids = spark.range(lo, hi + 1, numPartitions=spark.sparkContext.defaultParallelism)
    blocks = ids.selectExpr(
        "format_string('bh%012d', id) AS hash",
        "id AS height",
        "format_string('bh%012d', id - 1) AS prev_hash",
        "1600000000 + id * 60 AS time",
        """IF(id % 3 = 0,
              array(named_struct('hash', format_string('tx%012d', id), 'type', 'payment_v1'),
                    named_struct('hash', format_string('pr%012d', id), 'type', 'poc_receipts_v1')),
              array(named_struct('hash', format_string('tx%012d', id), 'type', 'payment_v1')))
           AS transactions""",
    )
    payments = ids.selectExpr(
        "format_string('tx%012d', id) AS hash",
        "'payment_v1' AS type",
        """to_json(named_struct(
              'amount', (id * 37) % 100000 + 1, 'fee', 0,
              'hash', format_string('tx%012d', id), 'nonce', id,
              'payee', concat('acct', (id * 7) % 89), 'payer', concat('acct', id % 97)))
           AS json""",
    )
    receipts = ids.where("id % 3 = 0").selectExpr(
        "format_string('pr%012d', id) AS hash",
        "'poc_receipts_v1' AS type",
        """to_json(named_struct(
              'challenger', concat('hs', id % 13), 'fee', 0,
              'hash', format_string('pr%012d', id),
              'path', array(named_struct(
                  'challengee', concat('hs', id % 11),
                  'receipt', IF(id % 2 = 0, named_struct(
                      'channel', 3, 'data', 'd', 'datarate', 'SF9BW125',
                      'frequency', 904.3D, 'gateway', concat('hs', id % 11),
                      'origin', 'p2p', 'signal', -60, 'snr', 9.0D,
                      'timestamp', id * 1000000000, 'tx_power', 27), NULL),
                  'witnesses', transform(array(0, 1), w -> named_struct(
                      'channel', 3, 'datarate', 'SF9BW125', 'frequency', 904.3D,
                      'gateway', concat('hs', (id * 5 + w) % 17),
                      'is_valid', (id + w) % 4 != 0,
                      'packet_hash', format_string('ph%012d', id),
                      'signal', -(70 + (id + w) % 30),
                      'snr', element_at(array(2.0D, 5.5D, 9.0D), CAST((id + w) % 3 AS INT) + 1),
                      'timestamp', id * 1000000000 + (w + 1) * 500000000))))))
           AS json""",
    )
    return blocks, payments.unionByName(receipts)


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes) under ``path``, recursively."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def check_store(
    spark,
    out_dir: str,
    edge_heights: set[int],
    account_heights: range | set[int],
    floor: int | None = None,
) -> list[str]:
    """Compare a follow store with the chain; returns the mismatches found.

    ``edge_heights`` are the heights whose edges must be present (history
    minus retention-dropped buckets); ``account_heights`` every height ever
    followed (the accounts table is never retention-pruned). With ``floor``
    set, no ``block_bucket`` may lie wholly below it.
    """
    errors: list[str] = []
    want = {
        "payments": {(h, payment_key(h)) for h in edge_heights},
        "poc_receipts": {
            (h, k) for h in edge_heights if h % 3 == 0 for k in witness_keys(h)
        },
    }
    for table, expected in want.items():
        rows = [
            (r[0], r[1])
            for r in spark.read.parquet(f"{out_dir}/{table}")
            .select("block", "_key")
            .collect()
        ]
        got = set(rows)
        if len(rows) != len(got):
            errors.append(f"{table}: {len(rows) - len(got)} duplicate rows")
        missing, extra = expected - got, got - expected
        if missing or extra:
            errors.append(
                f"{table}: {len(missing)} missing, {len(extra)} unexpected "
                f"(e.g. missing {sorted(missing)[:2]}, unexpected {sorted(extra)[:2]})"
            )
        if floor is not None:
            low = [
                n
                for n in os.listdir(f"{out_dir}/{table}")
                if n.startswith("block_bucket=")
                and (int(n.split("=", 1)[1]) + 1) * BUCKET <= floor
            ]
            if low:
                errors.append(f"{table}: buckets below retention floor {floor}: {low}")
    got_accounts = [r[0] for r in spark.read.parquet(f"{out_dir}/accounts").collect()]
    if len(got_accounts) != len(set(got_accounts)):
        errors.append("accounts: duplicate vertices")
    if set(got_accounts) != accounts(account_heights):
        errors.append(
            f"accounts: {len(set(got_accounts))} vertices, expected "
            f"{len(accounts(account_heights))}"
        )
    return errors
