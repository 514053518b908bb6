"""Index DDL shims (SURVEY.md S4-S6) over the Spark catalog.

The reference manages ES indices over REST: create with 5 shards /
0 replicas / ``refresh_interval=-1`` (``BulkProcessImpl.java:62-75``),
delete with long timeouts (``ElasticServiceImpl.java:64-87``), list all
minus system indices (``ElasticServiceImpl.java:90-114``). Here an
"index" is a catalog table; the load-optimized settings map onto the
write path (shard count -> partition count) rather than DDL state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatasearchpro_spark.operators.transform import normalize_index_name

DEFAULT_SHARDS = 5  # reference: number_of_shards=5, BulkProcessImpl.java:66

# Tables created through the index API carry this marker property, and
# ONLY marked tables are indices: the catalog also holds temp views,
# bucketed join tables, staging probes — none of which ES would list
# (or let `_all` search scan). Durable (a table property, not session
# state), so a restarted session still sees its indices.
INDEX_MARKER = "bdsp.index"
# custom-routing layout ``{"col", "shards"}`` (JSON), stamped by the
# routed bulk write: the index is partitioned by ``__shard``
ROUTING_PROP = "bdsp.routing"


# --------------------------------------------------------------------------
# Index metadata: every table-property read and write of an index goes
# through these, so how an index's metadata is stored (properties, the
# routing layout, the shard count) is known in one place.
# --------------------------------------------------------------------------


def _sql_str(v) -> str:
    """``v`` as a SQL string literal that reads back verbatim: Spark's
    literal parser unescapes backslashes and a doubled quote."""
    return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"


def index_props(spark: SparkSession, name: str) -> "dict[str, str]":
    """Every property of a table or view (one ``SHOW TBLPROPERTIES``),
    minus Spark's own ``transient*`` bookkeeping."""
    return {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
        if not r["key"].startswith("transient")
    }


def set_index_props(spark: SparkSession, name: str, props: dict,
                    *, kind: str = "TABLE") -> None:
    """Write every ``key -> value`` of ``props`` (stringified) onto a
    table (``kind="VIEW"`` for a view) in ONE ``ALTER … SET
    TBLPROPERTIES`` statement."""
    if props:
        body = ", ".join(f"{_sql_str(k)} = {_sql_str(v)}"
                         for k, v in props.items())
        spark.sql(f"ALTER {kind} {name} SET TBLPROPERTIES ({body})")


def unset_index_props(spark: SparkSession, name: str, keys,
                      *, kind: str = "TABLE") -> None:
    """Remove ``keys`` from a table's (or view's) properties in one
    statement."""
    keys = list(keys)
    if keys:
        body = ", ".join(_sql_str(k) for k in keys)
        spark.sql(f"ALTER {kind} {name} UNSET TBLPROPERTIES ({body})")


def routing_spec(props: "dict[str, str]") -> "dict | None":
    """The routing layout ``{col, shards}`` recorded in an index's
    properties, or None for an unrouted index."""
    import json as _json

    v = props.get(ROUTING_PROP)
    return None if v is None else _json.loads(v)


def shard_count(props: "dict[str, str]") -> int:
    """An index's shard count: a routed index has its routing layout's
    ``__shard`` partitions; an unrouted one reports its ``shards``
    setting, else :data:`DEFAULT_SHARDS`."""
    spec = routing_spec(props)
    if spec is not None:
        return int(spec["shards"])
    return int(props.get("shards", DEFAULT_SHARDS))


def data_settings(props: "dict[str, str]") -> "dict[str, str]":
    """The data-independent settings a content write keeps and a
    snapshot carries: per-field analyzers and the ``shards`` setting
    (the routing layout is decided by the write itself)."""
    return {k: v for k, v in props.items()
            if k.startswith(ANALYZER_PROP_PREFIX) or k == "shards"}


def routing_shard_expr(col: Column, n_shards) -> Column:
    """The routing hash: the ``__shard`` a routing value lands in,
    ``pmod(xxhash64(col), n_shards)``.  xxhash64 is type-sensitive, so
    ``col`` must have the routing column's native type."""
    return F.pmod(F.xxhash64(col), F.lit(int(n_shards)))


def mark_index_table(spark: SparkSession, name: str) -> None:
    """Stamp an existing table as an index (idempotent). Called by every
    creation path: :func:`create_index` DDL and the bulk-load
    ``saveAsTable`` sink.  A FIRST marking is the auto-create moment of
    a bulk-loaded index, so matching index templates apply then —
    exactly when ES applies templates to auto-created indices."""
    n = normalize_index_name(name)
    if is_index_table(spark, n):
        return
    tmpl_shards, tmpl_mappings = _merged_template(spark, n)
    props = {INDEX_MARKER: "true"}
    if tmpl_shards is not None:
        props["shards"] = int(tmpl_shards)
    set_index_props(spark, n, props)
    if tmpl_mappings:
        _apply_template_mappings(spark, n, tmpl_mappings)


def is_index_table(spark: SparkSession, name: str) -> bool:
    """True iff ``name`` is a marked index table (not a temp view or an
    unmarked catalog table)."""
    try:
        props = index_props(spark, normalize_index_name(name))
    except Exception:
        return False  # temp view / vanished table: not an index
    return props.get(INDEX_MARKER) == "true"


def create_index(
    spark: SparkSession,
    name: str,
    schema: str = "doc_id BIGINT, body STRING",
    *,
    shards: "int | None" = None,
) -> str:
    """Create an empty managed table (lowercased, like the reference's
    index names). ``shards`` is recorded as a table property — the write
    path uses it as the partition count.  An explicit ``shards``
    argument wins over any matching index template (ES: create-body
    settings override templates); with ``shards=None`` a matching
    template's setting applies, else :data:`DEFAULT_SHARDS`.

    ``name`` is validated by :func:`normalize_index_name` and ``schema``
    against a column-definition whitelist before either reaches the SQL
    string (DDL injection guard)."""
    n = normalize_index_name(name)
    if not __import__("re").match(r"^[A-Za-z0-9_ ,<>():]+$", schema):
        raise ValueError(f"invalid schema string: {schema!r}")
    newly_created = not spark.catalog.tableExists(n)
    tmpl_shards, tmpl_mappings = _merged_template(spark, n)
    eff_shards = (
        shards if shards is not None
        else (tmpl_shards if tmpl_shards is not None else DEFAULT_SHARDS)
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {n} ({schema}) USING parquet "
        f"TBLPROPERTIES ('shards' = '{int(eff_shards)}', "
        f"'{INDEX_MARKER}' = 'true')"
    )
    if newly_created and tmpl_mappings:
        _apply_template_mappings(spark, n, tmpl_mappings)
    return n


def delete_index(spark: SparkSession, name: str) -> bool:
    """Drop the table if it exists (reference deletes are idempotent in
    effect: a missing index raises, caught and logged)."""
    n = normalize_index_name(name)
    existed = spark.catalog.tableExists(n)
    spark.sql(f"DROP TABLE IF EXISTS {n}")
    if existed:
        # ES removes a deleted index from every alias pointing at it
        # (and an alias left with no targets disappears) — without
        # this, multi-index alias views dangle and fail whole reads
        # because ONE target died
        _remove_index_from_aliases(spark, n)
    return existed


def list_indices(spark: SparkSession) -> DataFrame:
    """All indices — the reference lists indices minus ``.``-prefixed
    system ones (``ElasticServiceImpl.java:98``). ``_all`` is
    additionally excluded as a defense-in-depth belt for pre-existing
    catalogs (``normalize_index_name`` rejects creating it): the
    scatter-gather in ``api.query_data`` must never see itself in the
    scatter list.

    Only tables stamped with :data:`INDEX_MARKER` qualify: the Spark
    catalog also holds temp views and non-index tables (bucketed join
    tables, test fixtures), which ES would never list — and which the
    ``_all`` scatter-gather must never scan with index search
    semantics. Temp views are skipped before the property probe (a
    view cannot carry table properties)."""
    names = [
        (t.name, t.database or "")
        for t in spark.catalog.listTables()
        if not t.isTemporary
        and not t.name.startswith(".")
        and t.name != "_all"
        and is_index_table(spark, t.name)
    ]
    return spark.createDataFrame(
        names or [], "index_name string, database string"
    )


# --------------------------------------------------------------------------
# Index aliases (public ES 6.x `_aliases` API): an alias names one or
# more indices, optionally with a filter — the standard indirection for
# zero-downtime reindex cutovers and filtered tenant views. Mapped to
# marked catalog VIEWS: a filtered alias is a WHERE view, a multi-index
# alias is a UNION ALL view; reads through the alias inherit the plan
# of the underlying scans (the filter pushes into them — a filtered
# alias costs a predicate, not a copy).
# --------------------------------------------------------------------------

ALIAS_MARKER = "bdsp.alias"
# the alias filter is baked into the view SQL; it is ALSO stored as a
# property so delete_index can rebuild a multi-target alias minus a
# dropped target without losing the filter
ALIAS_FILTER_PROP = "bdsp.alias.filter"


def _alias_prop(spark: SparkSession, view: str, prop: str) -> "str | None":
    try:
        return index_props(spark, view).get(prop) or None
    except Exception:
        return None


def _remove_index_from_aliases(spark: SparkSession, index: str) -> None:
    """ES `DELETE /{index}` semantics for aliases: the index vanishes
    from every alias's target list; a multi-target alias keeps serving
    its remaining targets (same filter), an alias left empty is
    dropped.  Catalog-sized work (one property probe per table)."""
    for t in spark.catalog.listTables():
        if t.isTemporary or t.name.startswith("."):
            continue
        v = _alias_prop(spark, t.name, ALIAS_MARKER)
        if v is None:
            continue
        targets = v.split(",")
        if index not in targets:
            continue
        remaining = [x for x in targets if x != index]
        if not remaining:
            spark.sql(f"DROP VIEW IF EXISTS {t.name}")
        else:
            add_alias(
                spark, remaining, t.name,
                filter_sql=_alias_prop(spark, t.name, ALIAS_FILTER_PROP),
            )


def add_alias(
    spark: SparkSession,
    index_names: "str | list[str]",
    alias: str,
    *,
    filter_sql: str | None = None,
) -> str:
    """Create/replace an alias over one or more indices (ES
    ``POST _aliases`` ``add`` action; re-adding re-points it, like ES).
    ``filter_sql`` is a boolean SQL expression applied to every target
    (ES filtered alias). The targets must be marked index tables."""
    a = normalize_index_name(alias)
    names = [index_names] if isinstance(index_names, str) else list(index_names)
    if not names:
        raise ValueError("alias needs at least one target index")
    targets = []
    for n in names:
        t = normalize_index_name(n)
        if not is_index_table(spark, t):
            raise ValueError(f"alias target is not an index: {n!r}")
        targets.append(t)
    if filter_sql is not None:
        import re

        # statement keywords never belong in a boolean filter — reject
        # subqueries/DDL outright rather than trusting a character set
        if re.search(
            r"(?i)\b(select|insert|update|delete|merge|drop|create|alter|with)\b",
            filter_sql,
        ):
            raise ValueError(
                f"alias filter must be a boolean expression over the "
                f"target schema, not a query: {filter_sql!r}"
            )
        # semantic validation: the expression must ANALYZE as a boolean
        # against every target's actual schema (unknown columns, type
        # errors, and malformed syntax all fail here)
        for t in targets:
            try:
                probe = spark.table(t).filter(F.expr(filter_sql))
                probe.schema  # force analysis
            except Exception as e:
                raise ValueError(
                    f"alias filter does not resolve against index {t!r}: "
                    f"{filter_sql!r} ({e})"
                ) from None
    where = f" WHERE {filter_sql}" if filter_sql else ""
    body = " UNION ALL ".join(f"SELECT * FROM {t}{where}" for t in targets)
    props = f"{_sql_str(ALIAS_MARKER)} = {_sql_str(','.join(targets))}"
    if filter_sql is not None:
        props += f", {_sql_str(ALIAS_FILTER_PROP)} = {_sql_str(filter_sql)}"
    spark.sql(
        f"CREATE OR REPLACE VIEW {a} TBLPROPERTIES ({props}) AS {body}"
    )
    return a


def delete_alias(spark: SparkSession, alias: str) -> bool:
    """Drop an alias (ES ``remove`` action). Refuses to drop a real
    index table through the alias API."""
    a = normalize_index_name(alias)
    if is_index_table(spark, a):
        raise ValueError(f"{alias!r} is an index, not an alias")
    existed = spark.catalog.tableExists(a)
    spark.sql(f"DROP VIEW IF EXISTS {a}")
    return existed


def list_aliases(spark: SparkSession) -> DataFrame:
    """All aliases as ``(alias, index_name)`` rows (ES ``GET _alias``:
    one row per alias->index edge)."""
    edges: list[tuple[str, str]] = []
    for t in spark.catalog.listTables():
        if t.isTemporary or t.name.startswith(".") or t.name == "_all":
            continue
        v = _alias_prop(spark, t.name, ALIAS_MARKER)
        if v is not None:
            edges.extend((t.name, ix) for ix in v.split(","))
    return spark.createDataFrame(edges or [], "alias string, index_name string")


# --------------------------------------------------------------------------
# Field mappings (ES `PUT {index}/_mapping`): per-field analyzer choice,
# recorded as table properties and consulted by the search path. The
# reference never sets a mapping (ES 6.x dynamic mapping, SURVEY.md §1.2);
# this is the explicit-analyzer surface ES exposes on top.
# --------------------------------------------------------------------------

ANALYZER_PROP_PREFIX = "bdsp.analyzer."


def put_mapping(
    spark: SparkSession, index_name: str, analyzers: "dict[str, str]"
) -> dict:
    """Record per-field analyzers for an index (ES ``PUT _mapping`` with
    ``"analyzer": ...`` per property). Fields must exist in the index
    schema; analyzer names must be registered. Re-putting re-points,
    like ES on compatible mapping updates."""
    from bigdatasearchpro_spark.operators.analyzers import ANALYZERS

    n = normalize_index_name(index_name)
    if not is_index_table(spark, n):
        raise ValueError(f"put_mapping target is not an index: {index_name!r}")
    cols = set(spark.table(n).columns)
    for field, an in analyzers.items():
        if field not in cols:
            raise ValueError(f"unknown field {field!r} in mapping for {n!r}")
        if an not in ANALYZERS:
            raise ValueError(
                f"unknown analyzer {an!r} (have {sorted(ANALYZERS)})"
            )
    set_index_props(spark, n, {
        f"{ANALYZER_PROP_PREFIX}{field}": an for field, an in analyzers.items()
    })
    return get_mapping(spark, n)


def get_mapping(spark: SparkSession, index_name: str) -> dict:
    """field -> analyzer for an index (ES ``GET _mapping``); fields
    without an explicit mapping are absent (they analyze standard)."""
    props = index_props(spark, normalize_index_name(index_name))
    return {k[len(ANALYZER_PROP_PREFIX):]: v for k, v in props.items()
            if k.startswith(ANALYZER_PROP_PREFIX)}


# --------------------------------------------------------------------------
# Index templates (public ES 6.x `PUT/GET _template`): a template names
# glob patterns plus settings+mappings that apply to every index whose
# name matches at creation time — the standard way real ES users
# configure per-index-family analyzers (the reference relies on ES
# dynamic mapping for exactly this, SURVEY.md §1.2; settings-only index
# creation at BulkProcessImpl.java:66-68).  Stored as rows of a small
# managed catalog table (durable across sessions, like the property-
# based index/alias markers); application happens in create_index and
# in mark_index_table's first marking (the bulk auto-create moment).
# --------------------------------------------------------------------------

TEMPLATE_STORE = "bdsp_templates_store"  # metadata-only view
_TEMPLATE_PROP_PREFIX = "bdsp.template."


def _ensure_template_store(spark: SparkSession) -> None:
    # a VIEW has no warehouse directory, so a stale on-disk location
    # can never wedge the store across sessions (managed tables can)
    spark.sql(
        f"CREATE VIEW IF NOT EXISTS {TEMPLATE_STORE} AS SELECT 1 AS one"
    )


def put_template(
    spark: SparkSession,
    name: str,
    *,
    index_patterns: "list[str]",
    mappings: "dict[str, str] | None" = None,
    shards: "int | None" = None,
    order: int = 0,
) -> dict:
    """ES ``PUT _template/{name}``: register (or replace) a template.
    ``index_patterns`` are ``*``-globs matched against new index names;
    ``mappings`` is field -> analyzer (validated against the analyzer
    registry now, so a bad template fails at PUT time like ES);
    ``shards`` maps to the settings' ``number_of_shards``; higher
    ``order`` wins on overlapping templates (ES merge order)."""
    import json as _json
    import re as _re

    from bigdatasearchpro_spark.operators.analyzers import ANALYZERS

    if not index_patterns:
        raise ValueError("index_patterns must be non-empty")
    if not _re.match(r"^[a-z0-9_.-]+$", name):
        raise ValueError(f"invalid template name {name!r}")
    for p in index_patterns:
        if not _re.match(r"^[a-z0-9_.*-]+$", p):
            raise ValueError(f"invalid index pattern {p!r}")
    for field, an in (mappings or {}).items():
        # '*'-globs allowed: ES dynamic-template shape — the pattern
        # matches STRING columns of each index at creation time
        if not _re.match(r"^[A-Za-z0-9_.*-]+$", field):
            raise ValueError(f"invalid field name {field!r}")
        if an not in ANALYZERS:
            raise ValueError(
                f"unknown analyzer {an!r} (have {sorted(ANALYZERS)})"
            )
    payload = _json.dumps(
        {
            "index_patterns": list(index_patterns),
            "shards": None if shards is None else int(shards),
            "mappings": dict(mappings or {}),
            "order": int(order),
        },
        sort_keys=True,
    )
    _ensure_template_store(spark)
    set_index_props(spark, TEMPLATE_STORE,
                    {f"{_TEMPLATE_PROP_PREFIX}{name}": payload}, kind="VIEW")
    return get_template(spark, name)


def _raw_templates(spark: SparkSession) -> "dict[str, dict]":
    import json as _json

    if not spark.catalog.tableExists(TEMPLATE_STORE):
        return {}
    return {k[len(_TEMPLATE_PROP_PREFIX):]: _json.loads(v)
            for k, v in index_props(spark, TEMPLATE_STORE).items()
            if k.startswith(_TEMPLATE_PROP_PREFIX)}


def get_template(spark: SparkSession, name: str) -> "dict | None":
    """ES ``GET _template/{name}`` — the stored template, or None."""
    t = _raw_templates(spark).get(name)
    return None if t is None else {"name": name, **t}


def list_templates(spark: SparkSession) -> "list[dict]":
    """ES ``GET _template`` — every stored template, name-sorted."""
    raw = _raw_templates(spark)
    return [{"name": n, **raw[n]} for n in sorted(raw)]


def delete_template(spark: SparkSession, name: str) -> bool:
    """ES ``DELETE _template/{name}`` — True iff it existed."""
    if name not in _raw_templates(spark):
        return False
    unset_index_props(spark, TEMPLATE_STORE, [f"{_TEMPLATE_PROP_PREFIX}{name}"],
                      kind="VIEW")
    return True


def _merged_template(
    spark: SparkSession, index_name: str
) -> "tuple[int | None, dict[str, str]]":
    """(shards, field->analyzer) merged from every template whose
    pattern glob-matches ``index_name``, lowest order first so higher
    orders override on conflict (the ES merge rule)."""
    import fnmatch

    matched = sorted(
        (
            (t["order"], n, t)
            for n, t in _raw_templates(spark).items()
            if any(
                fnmatch.fnmatchcase(index_name, p)
                for p in t["index_patterns"]
            )
        ),
    )
    shards: "int | None" = None
    mappings: "dict[str, str]" = {}
    for _, _, t in matched:
        if t["shards"] is not None:
            shards = t["shards"]
        mappings.update(t["mappings"])
    return shards, mappings


def _apply_template_mappings(
    spark: SparkSession, index_name: str, mappings: "dict[str, str]"
) -> None:
    """Apply a merged template's field->analyzer mapping to a fresh
    index: exact field names apply when the schema has them (ES
    templates may map fields an individual index never materializes);
    ``*``-glob field patterns (ES dynamic-template shape — how real ES
    deployments analyzer-type every text field, the dynamic-mapping
    reliance the reference has, SURVEY.md §1.2) expand against the
    index's STRING columns, with exact names overriding globs."""
    import fnmatch

    fields = spark.table(index_name).schema.fields
    str_cols = [f.name for f in fields if f.dataType.simpleString() == "string"]
    cols = {f.name for f in fields}
    present: "dict[str, str]" = {}
    for pat, an in mappings.items():
        if "*" in pat:
            for c in str_cols:
                if fnmatch.fnmatchcase(c, pat):
                    present[c] = an
    for f, an in mappings.items():  # exact names win over globs
        if "*" not in f and f in cols:
            present[f] = an
    if present:
        put_mapping(spark, index_name, present)


# --------------------------------------------------------------------------
# Stored scripts (ES `PUT/GET/DELETE _scripts/{id}`) — cluster-level
# named scripts reusable in script_score / runtime fields / scripted
# metrics. Same durable metadata-view property store as templates; the
# source is VALIDATED at PUT time by compiling it (unbound params
# allowed — they bind at use time), exactly ES's failure timing.
# --------------------------------------------------------------------------

_SCRIPT_PROP_PREFIX = "bdsp.script."


def put_script(spark: SparkSession, script_id: str, source: str,
               *, lang: str = "painless") -> dict:
    """ES ``PUT _scripts/{id}``: store (or replace) a named script.
    The source must parse in the supported Painless arithmetic subset
    (operators/scripting.py) — a bad script fails at PUT, like ES."""
    import json as _json
    import re as _re

    from bigdatasearchpro_spark.operators.scripting import Script

    if not _re.match(r"^[a-z0-9_.-]+$", script_id):
        raise ValueError(f"invalid script id {script_id!r}")
    if lang == "painless":
        Script(source, strict=False)  # parse-validate, params bind later
    elif lang == "mustache":
        # a stored SEARCH TEMPLATE (ES stores them in _scripts too):
        # stored verbatim — substitution params bind and the rendered
        # JSON parse-validates at RENDER time (api.render_search_template
        # / _render/template), matching ES, which accepts any source at
        # PUT (JSON braces make brace-counting meaningless here)
        pass
    else:
        raise ValueError(f"unsupported script lang {lang!r}")
    payload = _json.dumps({"lang": lang, "source": source}, sort_keys=True)
    _ensure_template_store(spark)
    # painless sources carry single quotes (doc['field']) and mustache
    # sources double quotes, which json.dumps backslash-escapes: the
    # literal escaping of set_index_props keeps both verbatim
    set_index_props(spark, TEMPLATE_STORE,
                    {f"{_SCRIPT_PROP_PREFIX}{script_id}": payload}, kind="VIEW")
    return get_script(spark, script_id)


def _raw_scripts(spark: SparkSession) -> "dict[str, dict]":
    import json as _json

    if not spark.catalog.tableExists(TEMPLATE_STORE):
        return {}
    return {k[len(_SCRIPT_PROP_PREFIX):]: _json.loads(v)
            for k, v in index_props(spark, TEMPLATE_STORE).items()
            if k.startswith(_SCRIPT_PROP_PREFIX)}


def get_script(spark: SparkSession, script_id: str) -> "dict | None":
    """ES ``GET _scripts/{id}`` — ``{id, lang, source}`` or None."""
    s = _raw_scripts(spark).get(script_id)
    return None if s is None else {"id": script_id, **s}


def delete_script(spark: SparkSession, script_id: str) -> bool:
    """ES ``DELETE _scripts/{id}`` — True iff it existed."""
    if script_id not in _raw_scripts(spark):
        return False
    unset_index_props(spark, TEMPLATE_STORE, [f"{_SCRIPT_PROP_PREFIX}{script_id}"],
                      kind="VIEW")
    return True
