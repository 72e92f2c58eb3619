"""Denormalization workbench (reference O22/O14/O15 + S5/S7).

The reference treats physical design as data: a ``DenormalizationSpec``
(collections kept, sharding keys, indexes, embeds) describes a candidate
layout (`/root/reference/challenge/models.py:69-82`), applied to *schemas and
statistics only* (`challenge/loader.py:109-146`) because no data exists.
Here the same spec generates **real tables**:

- ``one``-embed  -> ``target JOIN source`` + a ``struct`` column
  (each target row gains one embedded document);
- ``many``-embed -> ``source.groupBy(key).agg(collect_list(struct(...)))``
  left-joined to the target (each target row gains an array of documents);
- ``sharding_key`` -> bucketed layout (``bucketBy``): Spark's co-partitioned
  access path, giving the shuffle-free joins/aggregations the reference
  prices at shuffle=0 (`challenge/simulator.py:222-224`,
  `query_simulator/aggregate.py:218-236`);
- ``indexes``     -> no secondary indexes in Spark; approximated by Parquet
  predicate pushdown + row-group skipping (documented deviation, SURVEY §4).

Join elimination (O14, `challenge/planner.py:168-222`): a query joining
target x source where an embed covers the pair is *routed* to the variant
table as a single filter with ``path.field`` predicates.  Not a Catalyst
rule — plain variant routing, exactly like the reference's planner rewrite.

Scale: ``one``-embeds of a dimension into a 100 TB fact broadcast the
dimension; ``many``-embeds shuffle the fact once on the embed key (the same
shuffle a query-time join would pay — amortized across the workload, which
is the entire argument for denormalization).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class EmbedSpec:
    """Embed ``source`` documents into ``target`` under struct/array ``path``.

    Reference: `challenge/models.py:69-74` (EmbedSpec source/target/path/
    cardinality); the join key pair is implicit in the reference's flat
    schema, explicit here.
    """

    source: str
    target: str
    path: str
    cardinality: str  # 'one' | 'many'
    target_key: str
    source_key: str
    #: columns of source to embed (default: all but the join key)
    fields: tuple[str, ...] = ()


@dataclass(frozen=True)
class CollectionSpec:
    """One collection kept by the layout (reference `challenge/loader.py:86-100`)."""

    name: str
    sharding_key: str | None = None
    indexes: tuple[str, ...] = ()


@dataclass(frozen=True)
class DenormalizationSpec:
    """A candidate physical layout (reference `challenge/models.py:77-82`)."""

    id: str
    description: str = ""
    collections: tuple[CollectionSpec, ...] = ()
    embeds: tuple[EmbedSpec, ...] = ()

    def embed_covering(self, a: str, b: str) -> EmbedSpec | None:
        """The embed that covers a join between collections a and b (either
        direction), if any — the O14 join-elimination test
        (`challenge/planner.py:168-189`)."""
        for e in self.embeds:
            if {e.source, e.target} == {a, b}:
                return e
        return None

    def host_of(self, collection: str) -> EmbedSpec | None:
        """If ``collection`` is absent from the layout but embedded elsewhere,
        the hosting embed (O15, `challenge/planner.py:271-291`)."""
        kept = {c.name for c in self.collections}
        if collection in kept:
            return None
        for e in self.embeds:
            if e.source == collection:
                return e
        return None


def embed_one(
    target: DataFrame, source: DataFrame, spec: EmbedSpec
) -> DataFrame:
    """`one`-embed: each target row gains a struct of its (unique) source row.

    Inner semantics on match like the reference (embedding assumes FK
    integrity); the source side is broadcast — at 100 TB the fact table
    stays in place.
    """
    cols = list(spec.fields) or [c for c in source.columns if c != spec.source_key]
    packed = source.select(
        F.col(spec.source_key).alias("__embed_key"),
        F.struct(*[F.col(c) for c in cols]).alias(spec.path),
    )
    return (
        target.join(
            F.broadcast(packed),
            target[spec.target_key] == packed["__embed_key"],
            "inner",
        )
        .drop("__embed_key")
    )


def embed_many(
    target: DataFrame, source: DataFrame, spec: EmbedSpec
) -> DataFrame:
    """`many`-embed: each target row gains an array<struct> of its source rows
    (reference sizing multiplies by avg_array_lengths,
    `challenge/loader.py:115-123`; here the arrays are real).

    Left join: targets with no children keep an empty array, preserving
    target cardinality.
    """
    cols = list(spec.fields) or [c for c in source.columns if c != spec.source_key]
    grouped = source.groupBy(F.col(spec.source_key).alias("__embed_key")).agg(
        F.collect_list(F.struct(*[F.col(c) for c in cols])).alias(spec.path)
    )
    joined = target.join(
        grouped, target[spec.target_key] == grouped["__embed_key"], "left"
    ).drop("__embed_key")
    # cast to the DataType OBJECT — round-tripping through simpleString()
    # breaks on field names containing DDL metacharacters (',', ':'),
    # which are legal in parquet
    empty = F.array().cast(joined.schema[spec.path].dataType)
    return joined.withColumn(spec.path, F.coalesce(F.col(spec.path), empty))


def kept_collections(
    base: dict[str, DataFrame], spec: DenormalizationSpec
) -> list[str]:
    """The collections the layout keeps (all of ``base`` when it names none)."""
    return [c.name for c in spec.collections] or list(base)


def collection_key(spec: DenormalizationSpec, name: str) -> tuple:
    """What ``build_collection`` output depends on: the collection and the
    embeds that target it.  Two layouts with equal keys store identical
    tables (e.g. the reference's D4 ``part`` is D3's), so a harness builds
    each key once."""
    return (name, tuple(e for e in spec.embeds if e.target == name))


def build_collection(
    base: dict[str, DataFrame], spec: DenormalizationSpec, name: str
) -> DataFrame:
    """One collection of the layout: ``base[name]`` with every embed that
    targets it applied."""
    df = base[name]
    for e in spec.embeds:
        if e.target == name:
            fn = embed_one if e.cardinality == "one" else embed_many
            df = fn(df, base[e.source], e)
    return df


def build_variant(
    base: dict[str, DataFrame], spec: DenormalizationSpec
) -> dict[str, DataFrame]:
    """Materialize the layout's logical tables (reference S7
    ``build_database_models``, `challenge/loader.py:149-182`): apply every
    embed, keep only the spec's collections."""
    return {
        name: build_collection(base, spec, name)
        for name in kept_collections(base, spec)
    }


def write_variant(
    spark: SparkSession,
    variant: dict[str, DataFrame],
    spec: DenormalizationSpec,
    buckets: int = 16,
    table_prefix: str = "",
) -> dict[str, str]:
    """Write each collection as a catalog table, bucketed by its sharding key
    (the reference's shard placement made real; bucket count stands in for
    ``nb_servers``).  Returns {collection: table_name}."""
    names: dict[str, str] = {}
    for coll in spec.collections:
        df = variant[coll.name]
        tbl = f"{table_prefix}{spec.id}_{coll.name}".lower()
        writer = df.write.mode("overwrite").format("parquet")
        if coll.sharding_key:
            writer = writer.bucketBy(buckets, coll.sharding_key).sortBy(
                coll.sharding_key
            )
        writer.saveAsTable(tbl)
        names[coll.name] = tbl
    return names


def routed_filter(
    variant: dict[str, DataFrame],
    spec: DenormalizationSpec,
    collection: str,
    predicates: dict[str, object],
) -> DataFrame:
    """O14/O15 routing: filter ``collection``; if it is embedded elsewhere in
    this layout, retarget to the host with ``path.field`` predicates —
    the reference's join-elimination rewrite (`challenge/planner.py:271-291`)
    as variant routing."""
    from bigdatastructure_a5_spark.operators.filters import eq_filter

    host = spec.host_of(collection)
    if host is None:
        df = variant[collection]
        prefix = ""
    else:
        df = variant[host.target]
        prefix = f"{host.path}."
    return eq_filter(df, {prefix + f: v for f, v in predicates.items()})
