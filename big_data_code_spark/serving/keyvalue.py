"""Serving-layer export — the ElephantDB analog.

The reference exports each batch view to ElephantDB as sharded
key/value domains: key = ``url + "/" + granularity + "-" + bucket``
(UTF-8 bytes), value = big-endian serialized long(s), shard chosen
by a pluggable `ShardingScheme` — `HashModScheme` over the whole
key, or `UrlOnlyScheme` so every bucket of one URL colocates on a
shard (`ToUrlBucketedKey` / `pageviewElephantDB` / `UrlOnlyScheme`,
`BatchWorkflow.java:304-426`).

Spark restatement: the shard is a deterministic column; the export
is ``repartition(n, shard)`` + ``partitionBy(shard)`` parquet — one
file per shard, the exact layout a key/value store bulk-load wants.
Point lookups read ONE shard directory (partition pruning at the
scan), which is the serving-layer property the sharding scheme
exists for.

Values default to typed columns rather than opaque byte blobs — the
8-byte-long encoding in the reference is a BerkeleyDB storage
detail, not a semantic — but the byte-exact wire format IS
available: ``export_key_value(serialize_longs=True)`` writes each
row's value columns as ONE concatenated big-endian 8-byte-per-long
blob (≙ `ToSerializedLong` / `ToSerializedLongPair`,
`BatchWorkflow.java:322-334,401-414`), and ``from_serialized_longs``
decodes it back; byte parity with `struct.pack(">q")` is tested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_parquet

N_SHARDS_DEFAULT = 32


def url_bucketed_key(url: Column, granularity: Column, bucket: Column) -> Column:
    """≙ `ToUrlBucketedKey`: ``url + "/" + gran + "-" + bucket``."""
    return F.concat(url, F.lit("/"), granularity, F.lit("-"), bucket.cast("string"))


def to_serialized_long(value: Column) -> Column:
    """Big-endian 8-byte value (≙ `ToSerializedLong`)."""
    return F.unhex(F.lpad(F.hex(value.cast("long")), 16, "0"))


def to_serialized_longs(*values: Column) -> Column:
    """Concatenated big-endian 8-byte encoding of several longs in
    one blob — `ToSerializedLongPair` (the bounce view's
    (visits, bounces) value) generalized to any arity."""
    return F.concat(*[to_serialized_long(v) for v in values])


def from_serialized_longs(blob: Column, n: int) -> list[Column]:
    """Decode ``n`` big-endian longs back out of a value blob (the
    read side a serving client implements). Two's-complement safe:
    each long is parsed as two unsigned 32-bit halves (both fit in
    a signed long), and ``hi << 32 | lo`` wraps negatives back
    through Java long arithmetic."""
    out = []
    for i in range(n):
        hi = F.conv(F.hex(F.substring(blob, i * 8 + 1, 4)), 16, 10).cast("long")
        lo = F.conv(F.hex(F.substring(blob, i * 8 + 5, 4)), 16, 10).cast("long")
        out.append(F.shiftleft(hi, 32).bitwiseOR(lo))
    return out


def hash_mod_shard(key: Column, n_shards: int) -> Column:
    """≙ `HashModScheme`: hash of the whole key, mod shard count."""
    return F.pmod(F.xxhash64(key), F.lit(n_shards)).cast("int")


def md5_mod_shard(key: Column, n_shards: int) -> Column:
    """`HashModScheme` in the md5 hash family: the first 7 hex chars
    of md5(key) as an int, mod shard count. Same uniformity as
    `hash_mod_shard`, but restatable in ANSI-ish SQL
    (`('0x' || substr(md5(key),1,7))::BIGINT`) so the sharded
    export is oracle-checkable end to end; xxhash64 stays the
    cheaper internal path."""
    return (
        F.conv(F.substring(F.md5(key), 1, 7), 16, 10).cast("long") % n_shards
    )


def url_only_shard(url: Column, n_shards: int) -> Column:
    """≙ `UrlOnlyScheme`: shard on the url part only, so all
    granularity-buckets of a url serve from one shard."""
    return F.pmod(F.xxhash64(url), F.lit(n_shards)).cast("int")


def export_key_value(
    view: DataFrame,
    path: str,
    key: Column,
    value_cols: list[str],
    shard: Column,
    serialize_longs: bool = False,
) -> None:
    """Write a batch view as a sharded key/value domain.

    ``repartition(shard)`` makes each output partition exactly one
    shard's data (one writer per shard — no tiny-file spray), and
    ``partitionBy`` makes the shard a directory readers can prune.

    ``serialize_longs=True`` writes the reference's byte-exact wire
    format instead of typed columns: value = concatenated big-endian
    8-byte longs (`ToSerializedLong(Pair)`); decode with
    `from_serialized_longs`.
    """
    if serialize_longs:
        value_exprs: list[Column] = [
            to_serialized_longs(*[F.col(c) for c in value_cols]).alias("value")
        ]
    else:
        value_exprs = [F.col(c) for c in value_cols]
    out = view.select(key.alias("key"), *value_exprs, shard.alias("shard"))
    (
        out.repartition(F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def lookup(spark: SparkSession, path: str, key_value: str, shard_of_key) -> DataFrame:
    """Point lookup: compute the key's shard, scan only that shard
    directory. ``shard_of_key`` is a fn str -> int mirroring the
    sharding scheme used at export time. The domain's schema is
    inferred once per export (`sources.tables.read_parquet`)."""
    shard = shard_of_key(key_value)
    return (
        read_parquet(spark, path)
        .where(F.col("shard") == shard)
        .where(F.col("key") == key_value)
    )


def python_hash_mod(key_value: str, n_shards: int, spark: SparkSession) -> int:
    """Driver-side shard computation for lookups: the JVM's `XXH64`
    with seed 42 over the key's UTF-8 bytes, which is what the
    export's ``xxhash64`` column computes, so the shard is
    bit-identical to the export's and no Spark job starts."""
    data = key_value.encode("utf-8")
    jvm = spark._jvm
    # the instance method: py4j cannot pick the static overload
    h = jvm.org.apache.spark.sql.catalyst.expressions.XXH64(42).hashUnsafeBytes(
        data, jvm.org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len(data)
    )
    return h % n_shards  # Python's % is Spark's pmod for n_shards > 0
