"""P1-P7: raw contract logs → decoded wide event table (SURVEY.md §2.2).

Spark-first re-expression of the reference's row-at-a-time ABI decode
(/root/reference/src/lib/services/events.ts:83-248): one declarative
``select`` with per-variant ``when`` projections. Everything is built-in
column expressions (substring/conv/unhex/decode) → whole-stage codegen,
no Python on the hot path, and Catalyst pushes the contract-address and
block-range filters into the parquet scan.

ABI ground truth: /root/reference/src/abi/hypermap.abi.json:8-14.
  - Mint(bytes32 parenthash idx, bytes32 childhash idx, bytes labelhash idx,
         bytes label)                      → label in data
  - Fact/Note(bytes32 parenthash idx, bytes32 fact|notehash idx,
         bytes labelhash idx, bytes label, bytes data) → label+data in data
  - Gene(bytes32 entry idx, address gene idx)
  - Transfer(address from idx, address to idx, uint256 id idx)
  - Zero(address zeroTba idx) / Upgraded(address implementation idx)

Undecodable logs (foreign topic0, wrong address) are silently skipped,
mirroring src/lib/services/events.ts:242-244; ``decode_raw_logs`` keeps
them as eventType IS NULL so callers can count the skips (§7.4.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hypermap_etl_spark.constants import CONTRACT_ADDRESS, TOPIC0
from hypermap_etl_spark.functions.hexutils import (
    event_id,
    hex_to_utf8,
    norm_hex,
    topic_to_address,
    uint256_topic_to_hex,
)
from hypermap_etl_spark.schemas import EVENT_SCHEMA
from hypermap_etl_spark.util import jvm_cached


def _topic(i: int) -> Column:
    return F.col("topics").getItem(i)


def _data_body() -> Column:
    """Hex body of the data field without the 0x prefix.

    Plain substring, not regexp: the raw-log contract (RAW_LOG_SCHEMA)
    guarantees the 0x prefix, and substring keeps the (heavily repeated)
    expression tiny for whole-stage codegen.
    """
    return F.expr("substring(data, 3)")


def _word(i: Column | int) -> Column:
    """i-th 32-byte word of data as 64 hex chars (1-based substring)."""
    idx = F.lit(i) if isinstance(i, int) else i
    return F.substring(_data_body(), idx * 64 + 1, 64)


def _word_uint(i: Column | int) -> Column:
    """i-th word interpreted as a (small) unsigned int."""
    return F.conv(_word(i), 16, 10).cast("long")


def _dyn_bytes(head_slot: int) -> Column:
    """Decode a dynamic ``bytes`` arg whose head is at ``head_slot``.

    ABI layout: head word holds the byte offset of the tail; the tail is
    a length word followed by the right-padded payload. Pure substring
    arithmetic — stays in whole-stage codegen.
    """
    body = _data_body()
    tail_word = (_word_uint(head_slot) / F.lit(32)).cast("long")
    byte_len = F.conv(F.substring(body, tail_word * 64 + 1, F.lit(64)), 16, 10).cast("long")
    return F.substring(body, (tail_word + 1) * 64 + 1, byte_len * 2)


def decode_raw_logs(raw: DataFrame, contract: str = CONTRACT_ADDRESS) -> DataFrame:
    """Raw logs → wide event rows; unknown logs keep eventType NULL."""
    event_type, cols = jvm_cached(
        ("decode", contract.lower()), lambda: _decode_exprs(contract)
    )
    return raw.withColumn("eventType", event_type).select(*cols)


def _decode_exprs(contract: str) -> tuple[Column, list[Column]]:
    """(eventType, output projection) of decode_raw_logs — a pure
    function of ``contract``, so built once per JVM (util.jvm_cached)."""
    t0 = F.lower(_topic(0))
    is_target = F.lower(F.col("address")) == F.lit(contract.lower())

    # a log only decodes if topic0 matches AND the topic count is what
    # the ABI demands — a short topics array is undecodable, mirroring
    # interface.parseLog throwing → row skipped (events.ts:242-244)
    expected_topics = {"Mint": 4, "Fact": 4, "Note": 4, "Gene": 3, "Transfer": 4, "Zero": 2, "Upgraded": 2}
    event_type = F.when(~is_target, F.lit(None).cast("string"))
    for name, topic in TOPIC0.items():
        event_type = event_type.when(
            (t0 == F.lit(topic)) & (F.size(F.col("topics")) == expected_topics[name]),
            F.lit(name),
        )
    event_type = event_type.otherwise(F.lit(None).cast("string"))

    label_bytes = _dyn_bytes(0)  # Mint/Fact/Note: label head at slot 0
    data_bytes = _dyn_bytes(1)  # Fact/Note: data head at slot 1

    et = F.col("eventType")
    in_types = lambda *names: et.isin(*names)  # noqa: E731

    return event_type, [
        event_id(F.col("transactionHash"), F.col("logIndex")).alias("event_id"),
        et,
        F.col("blockNumber").cast("long").alias("blockNumber"),
        F.col("blockHash"),
        F.col("transactionHash"),
        F.col("transactionIndex").cast("int").alias("transactionIndex"),
        F.col("logIndex").cast("int").alias("logIndex"),
        F.lit(None).cast("long").alias("timestamp"),
        F.when(in_types("Mint", "Fact", "Note"), norm_hex(_topic(1))).alias("parenthash"),
        F.when(et == "Mint", norm_hex(_topic(2))).alias("childhash"),
        F.when(et == "Fact", norm_hex(_topic(2))).alias("facthash"),
        F.when(et == "Note", norm_hex(_topic(2))).alias("notehash"),
        F.when(in_types("Mint", "Fact", "Note"), norm_hex(_topic(3))).alias("labelhash"),
        F.when(in_types("Mint", "Fact", "Note"), hex_to_utf8(label_bytes)).alias("label"),
        F.when(in_types("Fact", "Note"), F.concat(F.lit("0x"), F.lower(data_bytes))).alias("data"),
        F.when(et == "Gene", norm_hex(_topic(1))).alias("entry"),
        F.when(et == "Gene", topic_to_address(_topic(2))).alias("gene"),
        F.when(et == "Transfer", topic_to_address(_topic(1))).alias("from"),
        F.when(et == "Transfer", topic_to_address(_topic(2))).alias("to"),
        # canonical 0x-hex-64 id; reference stores decimal which breaks
        # the owner join (SURVEY.md §7.4.4) — deliberate fix, recorded.
        F.when(et == "Transfer", uint256_topic_to_hex(_topic(3))).alias("id"),
        F.when(et == "Zero", topic_to_address(_topic(1))).alias("zeroTba"),
        F.when(et == "Upgraded", topic_to_address(_topic(1))).alias("implementation"),
    ]


def parse_raw_logs(raw: DataFrame, contract: str = CONTRACT_ADDRESS) -> DataFrame:
    """Decoded events only (skip-don't-fail semantics of events.ts:242-244)."""
    return decode_raw_logs(raw, contract).filter(F.col("eventType").isNotNull())


def skipped_log_count(raw: DataFrame, contract: str = CONTRACT_ADDRESS) -> int:
    """How many raw logs were undecodable (observability for §7.4.6)."""
    return decode_raw_logs(raw, contract).filter(F.col("eventType").isNull()).count()


def conform_to_event_schema(df: DataFrame) -> DataFrame:
    """Project/cast to the canonical EVENT_SCHEMA column order."""
    cols = []
    for field in EVENT_SCHEMA.fields:
        cols.append(F.col(f"`{field.name}`").cast(field.dataType).alias(field.name))
    return df.select(*cols)
