"""Graph-document transforms: the reference's per-block dataflow
(follower.py:135-207) re-expressed as DataFrame operators.

Input shapes (see ``schemas.py``) and the two paths to the txns a block
references — the reference's ``for txn in block.transactions`` loop over
one ``transaction_get`` RPC per stub (follower.py:143, client.py:39-51):

 * **envelopes nested** — ``blocks`` are CHAIN_BLOCK_SCHEMA rows, each txn
   stub carrying its payload in ``json`` (the ``helium_chain`` reader,
   batch and stream). The txns come straight off the blocks with one
   ``inline``: no join, and no second read of the chain.
 * **envelopes apart** — ``blocks`` are BLOCK_SCHEMA rows (stubs only: a
   JSON-lines dump, or frames built in SQL), and ``txns`` holds
   TXN_ENVELOPE_SCHEMA rows (hash, type, json); the stubs are joined to
   their envelopes once per batch.

The path is chosen at plan time from the stub struct's schema.
:func:`graph_documents` parses each payload once, keeps the result
persisted while the batch's sinks run, and derives all three outputs from
it, each with one generator (``inline`` or ``explode``) over the persisted
frame, so each sink's plan scans it once. It carries no broadcast hint: a
follower batch plans its joins under its own execution profile
(``streaming/follow.py``), and any other caller leaves the choice to AQE.

Every projection is constant SQL text built at import. A follower batch is
small enough that building its plans on the driver costs as much as
running them, and each ``F.col``-style call is a round trip to the JVM;
a ``selectExpr`` over fixed strings is one call per string.

Output shapes (FIXTURES.md F6):
 * payment edges  ``_from _to hash amount block timestamp _key``
   (follower.py:148-159 v1, :163-176 v2)
 * witness edges  ``_from _to frequency datarate is_valid signal snr
   timestamp hash block [tx_power processing_time_s] _key``
   (follower.py:180-202)
 * account vertices ``_key`` (follower.py:147,156,162,173)
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import canonical_md5_key
from ..schemas import PAYMENT_V1_SCHEMA, PAYMENT_V2_SCHEMA, POC_RECEIPTS_SCHEMA

PAYMENT_KEY_COLS = ["_from", "_to", "hash", "amount", "block", "timestamp"]
RECEIPT_KEY_COLS = [
    "_from", "_to", "frequency", "datarate", "is_valid", "signal", "snr",
    "timestamp", "hash", "block", "tx_power", "processing_time_s",
]
PAYMENT_TYPES = ("payment_v1", "payment_v2")
RECEIPT_TYPES = ("poc_receipts_v1", "poc_receipts_v2")


def _in(types: tuple[str, ...]) -> str:
    return ", ".join(f"'{t}'" for t in types)


_HANDLED = f"IN ({_in(PAYMENT_TYPES + RECEIPT_TYPES)})"

#: One row per txn stub, block header attached — the reference's ``for txn
#: in block.transactions`` loop (follower.py:143); block height and time
#: ride along so no later join is needed (follower.py:153-154).
STUB_COLS = ("height AS block", "time AS block_time", "inline(transactions) AS (txn_hash, txn_type)")
#: The same, when each stub carries its envelope.
ENVELOPE_STUB_COLS = ("height AS block", "time AS block_time", "inline(transactions) AS (txn_hash, type, json)")
#: A stub and its envelope, payload parsed once by its type's schema.
IN_BLOCK_COLS = (
    "block",
    "block_time",
    "txn_hash",
    "type",
    f"CASE WHEN type = 'payment_v1' THEN from_json(json, '{PAYMENT_V1_SCHEMA.simpleString()}') END AS pay1",
    f"CASE WHEN type = 'payment_v2' THEN from_json(json, '{PAYMENT_V2_SCHEMA.simpleString()}') END AS pay2",
    f"CASE WHEN type IN ({_in(RECEIPT_TYPES)}) "
    f"THEN from_json(json, '{POC_RECEIPTS_SCHEMA.simpleString()}') END AS poc",
)

#: payment_v1 -> one edge per txn (follower.py:145-159); payment_v2 -> one
#: edge per element of its ``payments`` array (follower.py:160-176).
PAYMENT_ROWS = (
    "block",
    "block_time",
    """inline(CASE type
        WHEN 'payment_v1' THEN array(named_struct(
            'payer', pay1.payer, 'payee', pay1.payee, 'hash', pay1.hash, 'amount', pay1.amount))
        WHEN 'payment_v2' THEN transform(pay2.payments, p -> named_struct(
            'payer', pay2.payer, 'payee', p.payee, 'hash', pay2.hash, 'amount', p.amount))
    END)""",
)
PAYMENT_COLS = (
    "concat('accounts/', payer) AS _from",
    "concat('accounts/', payee) AS _to",
    "hash",
    "amount",
    "block",
    "block_time AS timestamp",
)

#: One row per witness of ``path[0]`` — only the first path element is
#: read, as in the reference (follower.py:180).
WITNESS_ROWS = (
    "block",
    "txn_hash",
    "poc.path[0].challengee AS challengee",
    "poc.path[0].receipt AS receipt",
    "explode(poc.path[0].witnesses) AS w",
)
#: Null-receipt handling: ``tx_power`` / ``processing_time_s`` are NULL when
#: the path element has no receipt struct — the columnar equivalent of the
#: reference's try/except AttributeError (follower.py:194-198).
WITNESS_COLS = (
    "concat('hotspots/', challengee) AS _from",
    "concat('hotspots/', w.gateway) AS _to",
    "w.frequency AS frequency",
    "w.datarate AS datarate",
    "w.is_valid AS is_valid",
    "w.signal AS signal",
    "w.snr AS snr",
    "w.timestamp AS timestamp",
    "txn_hash AS hash",
    "block",
    "receipt.tx_power AS tx_power",
    "CASE WHEN receipt IS NOT NULL THEN (w.timestamp - receipt.timestamp) / 1e9 END AS processing_time_s",
)

#: Payer and payees of every payment (follower.py:147,156,162,173). A
#: payment_v2 payer counts even when its ``payments`` array is empty or
#: unreadable. A payload that does not parse names no account: the sink
#: anti-joins on ``_key``, and a NULL never matches, so each replay would
#: append it again.
ACCOUNT_KEYS = """explode(CASE type
    WHEN 'payment_v1' THEN array(pay1.payer, pay1.payee)
    WHEN 'payment_v2' THEN concat(
        array(pay2.payer), coalesce(transform(pay2.payments, p -> p.payee), array()))
END) AS _key"""


def _in_block_txns(blocks: DataFrame, txns: DataFrame | None) -> DataFrame:
    """The payment and receipt txns a stub in ``blocks`` references, with
    the stub's block and time and the payload parsed once by its type's
    schema: ``pay1`` (payment_v1), ``pay2`` (payment_v2) or ``poc``
    (poc_receipts v1/v2), NULL for the other types.

    Only referenced txns count — the reference walks
    ``block.transactions`` (follower.py:143), never the txn store at large.
    Nested envelopes are read off the stubs, and a stub whose txn the node
    did not have (``json`` NULL) is skipped. Otherwise ``txns`` is joined
    on, and an envelope counts only under the type its stub declares.
    PERMISSIVE parse: a malformed payload yields NULL fields rather than an
    exception — the engine's stand-in for the reference's ValidationError
    retry (follower.py:66-69).
    """
    if "json" in blocks.schema["transactions"].dataType.elementType.names:
        stubs = blocks.selectExpr(*ENVELOPE_STUB_COLS)
        return stubs.where(f"type {_HANDLED} AND json IS NOT NULL").selectExpr(*IN_BLOCK_COLS)
    if txns is None:
        raise ValueError("blocks without nested txn envelopes need their txns frame")
    stubs = blocks.selectExpr(*STUB_COLS).where(f"txn_type {_HANDLED}")
    envelopes = txns.where(f"type {_HANDLED}")
    joined = stubs.join(envelopes, F.expr("txn_hash = hash AND txn_type = type"))
    return joined.selectExpr(*IN_BLOCK_COLS)


@contextmanager
def graph_documents(
    blocks: DataFrame, txns: DataFrame | None = None
) -> Iterator[tuple[DataFrame, DataFrame, DataFrame]]:
    """Yield one batch's ``(payment edges, witness edges, account
    vertices)``, all derived from one :func:`_in_block_txns` frame that
    stays persisted until the block exits, so the payload parse (and, for
    stub-only blocks, the stub-envelope join) runs once for the three
    sinks. ``txns`` is needed only when ``blocks`` carry no envelopes, and
    is never evaluated when they do.

    Output shapes are in the module docstring. Edges are keyed and
    deduplicated by key — the onDuplicate=ignore contract of
    follower.py:205-207 — and account vertices are distinct and never
    NULL."""
    in_block = _in_block_txns(blocks, txns).persist()
    try:
        payments = in_block.selectExpr(*PAYMENT_ROWS).selectExpr(*PAYMENT_COLS)
        witnesses = in_block.selectExpr(*WITNESS_ROWS).selectExpr(*WITNESS_COLS)
        yield (
            payments.withColumn("_key", canonical_md5_key(*PAYMENT_KEY_COLS)).dropDuplicates(["_key"]),
            witnesses.withColumn("_key", canonical_md5_key(*RECEIPT_KEY_COLS)).dropDuplicates(["_key"]),
            in_block.selectExpr(ACCOUNT_KEYS).where("_key IS NOT NULL").distinct(),
        )
    finally:
        in_block.unpersist()
