"""SC-source variables: catalog lookups as dimension joins (SURVEY §2.1
S10-S13, §2.5 J1-J3, design stance §7).

The reference evaluates SC variables by issuing an HTTP GET per record
mid-evaluation (url template like ``proposals/<proposal_id>``, optional
single-field projection — /root/reference/src/scicat_dataset.py:389-414,
/root/reference/src/scicat_communication.py:14-24). That's per-row
network I/O inside the interpreter.

Spark-first: each catalog resource is a **dimension snapshot DataFrame**
broadcast-joined once per plan; the SC resolver then reads the joined
columns. The url's key template renders through the same V2 machinery,
so ``proposals/<proposal_id>`` keys the join on the rendered variable.
A live REST mode would swap the snapshot for a foreachBatch fetch — the
plan shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PREFIX = "_sc"


def _col_name(resource: str, field: str) -> str:
    return f"{_PREFIX}_{resource}_{field}"


def attach_dimension(
    df: DataFrame,
    dim: DataFrame,
    resource: str,
    key: Column,
    dim_key: str,
) -> DataFrame:
    """Broadcast-join one catalog resource snapshot.

    ``key`` is the fact-side join key (typically a rendered variable,
    e.g. the <proposal_id> from the url template); ``dim_key`` the
    dimension's key column. Dimension columns land under
    ``_sc_<resource>_<col>`` for the resolver. LEFT join: a missing
    catalog row yields NULLs -> V3 failure channel, like the
    reference's 404 tolerance (/root/reference/src/scicat_communication.py:161-193).
    """
    renamed = dim.select(
        [F.col(c).alias(_col_name(resource, c)) for c in dim.columns]
    )
    return df.join(
        F.broadcast(renamed),
        key == F.col(_col_name(resource, dim_key)),
        "left",
    )


def make_sc_resolver(resource_fields: dict[str, tuple[str, ...]] | None = None):
    """SourceResolver for SC variables: url ``<resource>/...`` + field
    projection -> the broadcast-joined column.

    ``field: ''`` is the reference's whole-object mode
    (/root/reference/src/scicat_communication.py:14-24, used by real
    schemas: resources/small-ymir.imsc.yml.example `proposal_data`): the
    row comes back as one value and later ``getitem`` variables project
    it. Supported here when the resource's columns were registered via
    ``resource_fields`` — the joined columns fold into a
    MAP<string,string> (value_type ``dict``) or a single-element array of
    that map (value_type ``list``, matching the filtered-query-returns-a-
    list shape that ``getitem 0`` then unwraps).

    Leading ``:`` on a field name is stripped (a recurring typo in the
    reference's shipped examples, e.g. ``field: :pi_lastname`` in
    resources/coda.imsc.yml.example — the reference would fail the
    variable at runtime and continue; we resolve the intended field).
    """
    from scicat_ingestor_spark.functions.scalar import with_unit

    resource_fields = resource_fields or {}

    def resolve(var) -> Column:
        if not var.url:
            raise ValueError(f"SC variable {var.name!r} needs a url")
        resource = var.url.strip("/").split("/")[0].split("?")[0]
        field = (var.field or "").lstrip(":") if var.field is not None else None
        if not field:
            cols = resource_fields.get(resource)
            if not cols:
                raise ValueError(
                    f"SC variable {var.name!r}: whole-object mode needs "
                    f"resource_fields[{resource!r}] registered"
                )
            as_map = F.map_from_arrays(
                F.array(*[F.lit(c) for c in cols]),
                F.array(
                    *[F.col(_col_name(resource, c)).cast("string") for c in cols]
                ),
            )
            # absent catalog row (LEFT-join NULLs) -> NULL object, not a
            # map of NULLs: same signal as the reference's 404
            any_hit = F.greatest(
                *[F.col(_col_name(resource, c)).isNotNull() for c in cols]
            ) if len(cols) > 1 else F.col(_col_name(resource, cols[0])).isNotNull()
            obj = F.when(any_hit, as_map)
            if var.value_type == "list":
                obj = F.when(any_hit, F.array(as_map))
            return with_unit(obj)
        return with_unit(F.col(_col_name(resource, field)))

    return resolve


def _mode_key(key: Column, ci: bool) -> Column:
    """Join key tagged with its match mode (``ilike`` keys lowered), so
    exact and case-insensitive lookups of one resource share one join
    without matching each other's rows. NULL stays NULL."""
    key = key.cast("string")
    return F.concat(F.lit("~"), F.lower(key)) if ci else F.concat(F.lit("="), key)


def attach_snapshots(
    df: DataFrame,
    schemas,
    snapshots: dict[str, DataFrame],
    nxs_resolver=None,
    dim_keys: dict[str, str] | None = None,
) -> DataFrame:
    """Attach every dimension snapshot the schemas' SC variables need,
    deriving (resource, join key) from each variable's url — the
    config-driven path the apps use (``scicat.dimension_snapshot_dir``).

    One broadcast join per resource for all schemas: the fact-side key
    is a ``CASE schema_id`` over each schema's key expression, so a row
    is keyed by its own schema only (NULL, no match, if it has none).

    Handles the url shapes the reference's shipped schemas use:
    - path key:      ``proposals/<proposal_id>``
    - filter query:  ``instruments?filter={"where":{"name":"coda"}}``
      (urlencoded; value may be a literal or a ``<variable>`` template;
      an ``ilike`` wrapper makes the key case-insensitive, J2)
    The key template must reference an NXS variable (resolved via
    ``nxs_resolver`` against the file map — the same order the reference
    evaluates in: file reads happen before catalog lookups that key on
    them). Unresolvable SC urls are left unattached; their variables
    then land in the V3 failure channel instead of failing the plan.
    """
    import re
    import urllib.parse

    from pyspark.sql import Window

    keys = {
        "proposals": "proposalId",
        "instruments": "name",
        "samples": "sampleId",
        "datasets": "pid",
        **(dim_keys or {}),
    }
    # resource -> schema id -> (fact-side key, case-insensitive): each
    # schema's first resolvable url for the resource
    lookups: dict[str, dict[str, tuple[Column, bool]]] = {}
    for schema in schemas:
        by_name = {v.name: v for v in schema.variables}
        for var in schema.variables:
            if var.source != "SC" or not var.url:
                continue
            url = urllib.parse.unquote(var.url)
            resource = url.strip("/").split("/")[0].split("?")[0]
            dim_key = keys.get(resource)
            if resource not in snapshots or dim_key is None:
                continue
            key_expr = None
            path_m = re.fullmatch(rf"{resource}/<(\w+)>", url.strip("/"))
            filt_m = re.search(
                rf'"{dim_key}"\s*:\s*(?:{{\s*"ilike"\s*:\s*)?"([^"]*)"', url
            )
            if path_m:
                ref = path_m.group(1)
            elif filt_m:
                tm = re.fullmatch(r"<(\w+)>", filt_m.group(1))
                if tm:
                    ref = tm.group(1)
                else:
                    key_expr = F.lit(filt_m.group(1))
            else:
                continue
            if key_expr is None:
                ref_var = by_name.get(ref)
                if ref_var is None or ref_var.source != "NXS" or nxs_resolver is None:
                    continue
                key_expr = nxs_resolver(ref_var).getField("value")
            ci = '"ilike"' in url
            lookups.setdefault(resource, {}).setdefault(schema.id, (key_expr, ci))
    out = df
    for resource, keyed in lookups.items():
        dim_key = keys[resource]
        modes = sorted({ci for _, ci in keyed.values()})
        dim = snapshots[resource].withColumn(
            "_key", F.explode(F.array(*[_mode_key(F.col(dim_key), ci) for ci in modes]))
        )
        # duplicate join keys (e.g. names merged by the ilike lowering)
        # must not fan out fact rows: the reference takes the FIRST
        # match (filtered GET + getitem 0, J2) — keep-first on the dim,
        # deterministic via the original key order
        wd = Window.partitionBy("_key").orderBy(dim_key)
        dim = (
            dim.withColumn("_rn", F.row_number().over(wd))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        fact_key = F  # F.when starts the CASE, Column.when extends it
        for sid, (key_expr, ci) in keyed.items():
            fact_key = fact_key.when(F.col("schema_id") == sid, _mode_key(key_expr, ci))
        out = attach_dimension(out, dim, resource, fact_key, "_key")
    return out


def load_snapshots(spark, snapshot_dir: str) -> dict[str, DataFrame]:
    """Read every ``<resource>.parquet`` in the snapshot dir."""
    import glob
    import os

    return {
        os.path.basename(p)[: -len(".parquet")]: spark.read.parquet(p)
        for p in sorted(glob.glob(os.path.join(snapshot_dir, "*.parquet")))
    }
