"""Engine facade: one object that composes the serving layers.

A user of the reference tool talks to a single engine handle — register
tables, run SQL, apply changes, and have aggregate requests served from the
cheapest correct layer. This facade wires the existing parts together; it
adds NO new semantics (each layer is independently tested and oracled):

    aggregate(request)
        1. result cache  — exact-match plan fingerprint + input versions
                           (operators/result_cache.py); a hit costs a
                           metadata check + summary-sized read
        2. MV routing    — SUM/COUNT/MIN/MAX/AVG rewrite against the
                           cheapest compatible summary table
                           (operators/mv.py; footer-row-count cost model)
        3. base table    — the direct aggregate

The provenance string returned with every result ("cache" / "mv:<name>" /
"base") makes the serving decision observable — the first thing an operator
asks when a dashboard slows down. Correctness does not depend on the layer
chosen: the cache key proves byte-identical inputs + an identical plan, and
MV routing is the algebra hash-verified by q239's oracle.

Invalidation is file-version-based end to end: ``apply_changes`` (CDC
upsert/delete merge) rewrites the table files, which rotates every
dependent cache fingerprint automatically; MV staleness is the refresh
contract (``refresh_mv`` for batch, streaming/incremental.py for live).

Every directory the engine writes — table versions, MV versions, cache
entries — goes through ``operators/parquet_store.py``, so reading it back
skips Spark's one-task schema-inference job: the schema recorded at write
time is the one inference would return (the footer carries the written
Catalyst schema and a file source forces every field nullable either
way), so plans and cache fingerprints are unchanged. A warm cache hit runs
one Spark job, the read itself.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inspectadb_spark.catalog import load_tables
from inspectadb_spark.operators.mv import _DEC, AggRequest, GroupingSetMV
from inspectadb_spark.operators.mv import MVDef, _derivable
from inspectadb_spark.operators.mv import route as _mv_route
from inspectadb_spark.operators.parquet_store import read_parquet
from inspectadb_spark.operators.parquet_store import write_parquet
from inspectadb_spark.operators.result_cache import ResultCache


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str,
                 work_dir: str) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.tables = load_tables(spark, sf_dir)
        self.cache = ResultCache(spark, os.path.join(work_dir, "result_cache"))
        # name -> (def, path, base_table, base_builder-or-None)
        self._mvs: dict[str, tuple] = {}
        self._gs_mvs: dict[str, tuple] = {}
        self._table_version: dict[str, int] = {}
        self._load_committed_tables()
        for name, df in self.tables.items():
            df.createOrReplaceTempView(name)

    def _load_committed_tables(self) -> None:
        """Restart continuity: a table whose work_dir pointer exists was
        rewritten by a previous apply_changes — resume from that committed
        version, not the original sf_dir files."""
        root = os.path.join(self.work_dir, "tables")
        if not os.path.isdir(root):
            return
        for table in os.listdir(root):
            ptr = os.path.join(root, table, "CURRENT")
            if table in self.tables and os.path.exists(ptr):
                with open(ptr) as f:
                    path = f.read().strip()
                self.tables[table] = read_parquet(self.spark, path)
                base = os.path.basename(path)
                if base.startswith("v"):
                    self._table_version[table] = int(base[1:])

    # -- relational entry points ------------------------------------------
    def table(self, name: str) -> DataFrame:
        return self.tables[name]

    def sql(self, text: str) -> DataFrame:
        return self.spark.sql(text)

    def sql_routed(self, text: str) -> tuple[DataFrame, str]:
        """Serve SQL through the layered path when it parses into the
        restricted aggregate grammar (``parse_agg_sql``) over a known
        table; otherwise run it as plain Spark SQL (provenance "sql").
        Routed aggregates use the engine-wide DECIMAL-exact sum convention
        (identical between the MV and base layers, and deterministic),
        not IEEE-double SUM order-dependence."""
        parsed = parse_agg_sql(text)
        if parsed is not None and parsed[0] in self.tables:
            table, req, where, having, order, limit, sel_order = parsed
            out, prov = self.aggregate(table, req)
            # re-project to SELECT-list order: the routed aggregate emits
            # keys-then-measures, so 'SELECT SUM(x) AS s, b, a ...' would
            # otherwise come back (a, b, s) while plain spark.sql returns
            # (s, b, a) — a positional consumer must see one order
            out = out.select(*sel_order)
            # WHERE key = literal predicates filter GROUP KEYS only, so
            # filter-after-aggregate == aggregate-after-filter; Catalyst
            # pushes the filter below the (MV or base) aggregate, pruning
            # the summary scan
            for cond in where:
                out = out.filter(F.expr(cond))
            return self._present((out, prov), having, order, limit)
        star = parse_star_agg_sql(text)
        if star is not None:
            served = self._route_star(*star[:3])
            if served is not None:
                return self._present(served, *star[3:])
        return self.spark.sql(text), "sql"

    @staticmethod
    def _present(served, having, order, limit):
        """Apply parsed HAVING / ORDER BY / LIMIT to a routed flat or star
        result. All three are pure post-aggregation operations over the
        served columns — HAVING terms compare declared aggregate ALIASES
        (real columns of the result) to numeric literals, ORDER BY
        references output names, and LIMIT only parses under a
        key-complete ORDER BY
        (a total order, since the group keys are unique per row) — so
        applying them to the routed result is positionally identical to
        plain-SQL execution; the eager-aggregation exactness argument is
        untouched because nothing here runs before the aggregate."""
        out, prov = served
        for cond in having:
            out = out.filter(F.expr(cond))
        if order:
            out = out.orderBy(*[
                F.col(c).desc() if d else F.col(c).asc() for c, d in order])
        if limit is not None:
            out = out.limit(limit)
        return out, prov

    def _route_star(self, fact, dims, items) -> tuple[DataFrame, str] | None:
        """Serve a one- or two-dimension star aggregate —
        ``SELECT d1.a, [d2.b,] AGG(f.m) FROM fact f JOIN dim1 d1 ON
        f.k1 = d1.dk1 [JOIN dim2 d2 ON f.k2 = d2.dk2] GROUP BY d1.a[, d2.b]``
        — by eager aggregation: aggregate the fact at join-key grain
        ({k1} or {k1, k2}) through the layered path, broadcast-join each
        dim's attributes onto the (summary-sized) grain rows, and
        re-aggregate to the requested attrs. The rewrite is exact for
        every supported measure regardless of dim-key multiplicity: each
        grain partial appears once per matching dim row — with two dims,
        once per matching (dim1-row, dim2-row) PAIR, the multiplicities
        MULTIPLY identically (m1·m2 copies) — in BOTH the joined-then-
        aggregated and the aggregated-then-joined forms (SUM/COUNT scale
        together, MIN/MAX are duplication-blind, AVG re-derives from
        sum+count), and every inner join drops NULL/unmatched keys from
        both forms alike.

        Each dim's WHERE conjunction of attribute equalities filters its
        broadcast dim BEFORE its grain join: the predicate references
        only that dim's columns, so filtering dim rows pre-join equals
        filtering the joined rows (it commutes with every inner join),
        which is exactly where plain SQL's pre-aggregation WHERE sits —
        the eager-aggregation exactness argument is untouched because the
        fact-side grain partials are computed independently of which dim
        rows survive.

        Refuse-by-default: returns None — caller falls through to plain
        Spark SQL — unless some registered MV over the fact table
        DECLARES the denormalized key set ({join keys} ∪ fact-side group
        cols) with derivable measures, and every WHERE column exists on
        its dim table. The fact table is then never scanned: the grain
        read is MV- (or cache-) served, the dims are broadcast, and the
        re-aggregation shuffles summary-sized rows. Provenance is
        ``star:<layer>`` for one dim and ``star2:<layer>`` for two.
        """
        if fact not in self.tables or any(d[0] not in self.tables
                                          for d in dims):
            return None
        fact_group = [i[2] for i in items if i[0] == "key" and i[1] == "fact"]
        attrs = [[i[2] for i in items if i[0] == "key" and i[1] == f"dim{n}"]
                 for n in range(1, len(dims) + 1)]
        dim_attrs = [a for per_dim in attrs for a in per_dim]
        aggs = [i for i in items if i[0] == "agg"]
        if not dim_attrs:
            return None  # no dim rollup — the flat grammar handles it
        need_keys = {*(fkey for _, fkey, _, _ in dims), *fact_group}
        if need_keys & set(dim_attrs):
            # a dim attr sharing its name with a fact grain column would
            # make the post-join groupBy ambiguous — not provably
            # routable, fall through to plain SQL
            return None
        # grain-level measures under reserved aliases (avg = sum + count)
        gm: dict[str, tuple[str, str]] = {}
        for _, agg, col, alias in aggs:
            if agg == "avg":
                gm[f"__sum_{alias}"] = ("sum", col)
                gm[f"__count_{alias}"] = ("count", col)
            else:
                gm[f"__{agg}_{alias}"] = (agg, col)
        declared = any(
            bt == fact and need_keys <= set(mv.keys)
            and _derivable(gm, mv.measures)
            for mv, _path, bt, _b in self._mvs.values())
        if not declared:
            return None
        if any(c not in self.tables[dim].columns
               for dim, _, _, where in dims for c, _ in where):
            return None  # unknown dim column: let plain SQL raise it
        req = AggRequest(keys={k: None for k in sorted(need_keys)},
                         measures=gm)
        grain, prov = self.aggregate(fact, req)
        joined = grain
        for n, ((dim, fkey, dkey, where), dattrs) in enumerate(
                zip(dims, attrs), 1):
            dim_base = self.tables[dim]
            for c, lit in where:
                dim_base = dim_base.filter(F.col(c) == F.expr(lit))
            dimdf = dim_base.select(F.col(dkey).alias(f"__dk{n}"),
                                    *[F.col(a) for a in dattrs])
            joined = joined.join(F.broadcast(dimdf),
                                 grain[fkey] == dimdf[f"__dk{n}"], "inner")
        out_aggs = []
        for _, agg, col, alias in aggs:
            if agg == "sum":
                # per-grain partials re-sum under the engine-wide
                # DECIMAL-exact convention (order-deterministic)
                out_aggs.append(
                    F.sum(F.col(f"__sum_{alias}").cast(_DEC))
                    .cast("double").alias(alias))
            elif agg == "count":
                out_aggs.append(F.sum(f"__count_{alias}")
                                .cast("bigint").alias(alias))
            elif agg == "avg":
                out_aggs.append(
                    (F.sum(F.col(f"__sum_{alias}").cast(_DEC))
                     .cast("double") / F.sum(f"__count_{alias}"))
                    .alias(alias))
            else:
                out_aggs.append(
                    getattr(F, agg)(f"__{agg}_{alias}").alias(alias))
        out = (joined.groupBy(*[F.col(c) for c in dim_attrs + fact_group])
               .agg(*out_aggs)
               .select(*[i[2] if i[0] == "key" else i[3] for i in items]))
        tag = "star" if len(dims) == 1 else f"star{len(dims)}"
        return out, f"{tag}:{prov}"

    # -- summary tables ----------------------------------------------------
    def register_mv(self, mv: MVDef, base_table: str,
                    base_builder=None) -> None:
        """Register + refresh a summary over ``base_table``. An optional
        ``base_builder(df) -> df`` pre-projects derived grain columns
        (e.g. ship_day) before the MV groupBy; it is REMEMBERED so every
        later refresh (manual or apply_changes-triggered) rebuilds from
        the same derived input."""
        if mv.name in self._gs_mvs:
            raise ValueError(
                f"MV name {mv.name!r} already registered as a grouping-sets "
                "MV: the two registries share the storage path, so a reused "
                "name would serve one definition from the other's parquet")
        path = os.path.join(self.work_dir, "mv", mv.name)
        self._mvs[mv.name] = (mv, path, base_table, base_builder)
        self.refresh_mv(mv.name)

    def refresh_mv(self, name: str) -> None:
        reg = self._gs_mvs if name in self._gs_mvs else self._mvs
        mv, path, base_table, base_builder = reg[name]
        base = self.tables[base_table]
        if base_builder is not None:
            base = base_builder(base)
        mv.store(base, path)

    def register_grouping_mv(self, mv: GroupingSetMV, base_table: str,
                             base_builder=None) -> None:
        """Register + refresh a multi-grain (grouping-sets) summary. Exact
        declared grains serve as filter+projection with zero aggregation."""
        if mv.name in self._mvs:
            raise ValueError(
                f"MV name {mv.name!r} already registered as a flat MV: the "
                "two registries share the storage path, so a reused name "
                "would serve one definition from the other's parquet")
        path = os.path.join(self.work_dir, "mv", mv.name)
        self._gs_mvs[mv.name] = (mv, path, base_table, base_builder)
        self.refresh_mv(mv.name)

    # -- CDC apply ---------------------------------------------------------
    def apply_changes(self, table: str, changes: DataFrame,
                      keys: list[str], order_col: str = "lsn",
                      op_col: str = "op",
                      refresh_dependents: bool = True) -> None:
        """Apply a CDC change batch to ``table``: fold the changelog to its
        net effect (latest per key), MERGE into the current table
        (upsert + delete), and REWRITE the table files copy-on-write under
        work_dir. The rewrite is the invalidation mechanism: every cached
        result over this table stops being addressed (new file versions),
        and dependent MVs are refreshed in the same call by default
        (``refresh_dependents=False`` defers them — the documented
        stale-until-refresh mode). The original sf_dir files are never
        touched (they may be read-only corpus fixtures)."""
        from inspectadb_spark.operators.cdc import latest_per_key, merge_apply

        net = latest_per_key(changes, keys, order_col)
        target = self.tables[table]
        src = net.select(*target.columns, F.col(op_col))
        merged = merge_apply(
            target, src, keys,
            update_cols={c: F.col(f"s.{c}") for c in target.columns
                         if c not in keys},
            delete_condition=F.col(f"s.{op_col}") == "d",
            # a delete for an absent key must NOT resurrect the tombstone
            # payload as an inserted row (idempotence under at-least-once
            # re-delivery of an already-applied delete)
            insert_condition=F.col(f"s.{op_col}") != "d",
        ).select(*target.columns)
        # versioned copy-on-write + atomic pointer swap (the DedupRegistry
        # crash story): NEVER overwrite the files the merge plan is
        # reading — a mid-write failure must leave the previous version
        # intact and committed
        version = self._table_version.get(table, 0) + 1
        out = os.path.join(self.work_dir, "tables", table, f"v{version}")
        write_parquet(merged, out)
        ptr = os.path.join(self.work_dir, "tables", table, "CURRENT")
        tmp = ptr + ".tmp"
        with open(tmp, "w") as f:
            f.write(out)
        os.replace(tmp, ptr)
        self._table_version[table] = version
        old = os.path.join(self.work_dir, "tables", table,
                           f"v{version - 2}")
        if os.path.exists(old):
            import shutil

            shutil.rmtree(old, ignore_errors=True)
        self.tables[table] = read_parquet(self.spark, out)
        self.tables[table].createOrReplaceTempView(table)
        if refresh_dependents:
            # rotate dependent summaries too, so MV-routed plans (and the
            # caches keyed on their files) can never serve pre-change
            # values; pass False to keep MVs stale-until-refresh (the
            # deferred-refresh operating mode)
            for reg in (self._mvs, self._gs_mvs):
                for name, entry in reg.items():
                    if entry[2] == table:
                        self.refresh_mv(name)

    # -- layered aggregate serving ----------------------------------------
    def aggregate(self, base_table: str, req: AggRequest,
                  base_builder=None, use_cache: bool = True,
                  ) -> tuple[DataFrame, str]:
        """Serve an aggregate request; returns (result, provenance)."""
        base = self.tables[base_table]
        if base_builder is not None:
            base = base_builder(base)
        routed, provenance = None, None
        # grouping-set MVs first: an exact-grain hit is a pure filter
        # (cheaper than any re-aggregating route)
        for n, (gs, path, bt, _) in self._gs_mvs.items():
            if bt != base_table:
                continue
            ans = gs.answer(self.spark, path, req)
            if ans is not None:
                routed, provenance = ans, f"gsmv:{n}"
                break
        if routed is None:
            mvs = {n: (mv, path)
                   for n, (mv, path, bt, _) in self._mvs.items()
                   if bt == base_table}
            routed, used = _mv_route(self.spark, req, mvs, base)
            provenance = f"mv:{used}" if used else "base"
        if not use_cache:
            return routed, provenance
        stored, hit = self.cache.get_or_compute(routed)
        return stored, "cache" if hit else provenance


# -- restricted SQL front-end for the serving layer -------------------------

_AGG_RE = re.compile(
    r"^\s*(SUM|COUNT|AVG|MIN|MAX)\s*\(\s*(DISTINCT\s+)?"
    r"(\*|[A-Za-z_][A-Za-z0-9_]*)\s*\)"
    r"\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$",
    re.IGNORECASE)
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_SHAPE_RE = re.compile(
    r"^\s*SELECT\s+(.*?)\s+FROM\s+([A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+WHERE\s+(.+?))?"
    r"\s+GROUP\s+BY\s+(.+?)"
    r"(?:\s+HAVING\s+(.+?))?"
    r"(?:\s+ORDER\s+BY\s+(.+?))?"
    r"(?:\s+LIMIT\s+(\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_LITERAL = r"(?:-?\d+(?:\.\d+)?|'[^']*')"
_WHERE_COND_RE = re.compile(
    rf"^([A-Za-z_][A-Za-z0-9_]*)\s*=\s*({_LITERAL})$")
_HAVING_COND_RE = re.compile(
    rf"^([A-Za-z_][A-Za-z0-9_]*)\s*(=|<>|!=|<=|>=|<|>)\s*(-?\d+(?:\.\d+)?)$")
_AND_RE = re.compile(r"\s+AND\s+", re.IGNORECASE)
_ORDER_TERM_RE = re.compile(
    r"^([A-Za-z_][A-Za-z0-9_]*)(?:\s+(ASC|DESC))?$",
    re.IGNORECASE)


def _parse_presentation(having_clause, order_clause, limit_clause,
                        key_names, agg_aliases):
    """Validate the post-aggregation presentation clauses shared by the
    flat and star grammars. HAVING terms must compare a declared
    aggregate ALIAS to a numeric literal (pure post-agg filters over real
    result columns); ORDER BY terms must be served output names (group
    keys or aliases); LIMIT routes only under a key-complete ORDER BY —
    the group keys are unique per result row, so covering them all pins
    a TOTAL order and the cut is deterministic (a partial order could tie
    at the cut and diverge from plain-SQL execution — ADVICE r05 item 4).
    Returns (having_conds, order_terms, limit) or None to refuse."""
    having: list[str] = []
    if having_clause is not None:
        for cond in _AND_RE.split(having_clause.strip()):
            hm = _HAVING_COND_RE.match(cond.strip())
            if not hm or hm.group(1) not in agg_aliases:
                return None  # HAVING must compare a declared agg alias
            having.append(f"{hm.group(1)} {hm.group(2)} {hm.group(3)}")
    order: list[tuple[str, bool]] = []
    if order_clause is not None:
        for term in order_clause.split(","):
            om = _ORDER_TERM_RE.match(term.strip())
            if not om or (om.group(1) not in key_names
                          and om.group(1) not in agg_aliases):
                return None
            order.append(
                (om.group(1), (om.group(2) or "ASC").upper() == "DESC"))
    limit_n = int(limit_clause) if limit_clause is not None else None
    if limit_n is not None and not set(key_names) <= {c for c, _ in order}:
        return None
    return having, order, limit_n


def parse_agg_sql(text: str):
    """Parse the restricted grammar
    ``SELECT <keys and aggs> FROM <table> [WHERE <key>=<lit> [AND ...]]
    GROUP BY <keys> [HAVING <agg_alias> <cmp> <num> [AND ...]]
    [ORDER BY <col> [ASC|DESC], ...] [LIMIT n]`` into
    (table, AggRequest, where_conds, having_conds, order_terms, limit),
    or None when the statement doesn't fit.

    Deliberately narrow: plain column keys, SUM/COUNT/AVG/MIN/MAX over a
    single column (or ``*`` for COUNT), mandatory AS aliases on aggregates.
    The predicate extensions stay provably route-safe: every WHERE column
    must be a GROUP BY key (filtering keys commutes with the aggregation,
    so the routed summary filter gives the same answer as a base-table
    WHERE) and every HAVING term compares a declared aggregate ALIAS to a
    numeric literal (pure post-aggregation filtering). One DISTINCT shape
    parses: ``COUNT(DISTINCT <column>)`` — the MV layer serves it
    structurally when the column is a declared grain key
    (operators/mv.py::_derivable) and the base fallback is exact
    otherwise. Anything else — expressions, joins, non-key WHERE columns,
    OR, SUM/AVG/MIN/MAX DISTINCT, COUNT(DISTINCT *) — returns None and
    the caller falls through to full Spark SQL. Exact-match parsing is
    the point: a mis-parse silently routed to a summary would be a wrong
    answer, so anything not PROVABLY in the grammar is not routed.
    """
    m = _SHAPE_RE.match(text)
    if not m:
        return None
    select_list, table = m.group(1), m.group(2)
    where_clause, group_by, having_clause = m.group(3), m.group(4), m.group(5)
    order_clause, limit_clause = m.group(6), m.group(7)
    keys = []
    for g in group_by.split(","):
        g = g.strip()
        if not _IDENT_RE.match(g):
            return None
        keys.append(g)
    measures: dict[str, tuple[str, str]] = {}
    sel_keys = []
    select_order: list[str] = []
    for item in _split_top_level(select_list):
        item = item.strip()
        if _IDENT_RE.match(item):
            sel_keys.append(item)
            select_order.append(item)
            continue
        am = _AGG_RE.match(item)
        if not am:
            return None
        agg, dist, col, alias = (am.group(1).lower(), am.group(2),
                                 am.group(3), am.group(4))
        if col == "*" and agg != "count":
            return None
        if dist is not None:
            # DISTINCT routes only as COUNT(DISTINCT <column>): the MV
            # layer serves it structurally when the column is a declared
            # grain key (operators/mv.py::_derivable), and the base
            # fallback is exact otherwise. SUM/AVG/MIN/MAX DISTINCT are
            # not provably routable -> refuse, fall through to plain SQL
            if agg != "count" or col == "*":
                return None
            measures[alias] = ("count_distinct", col)
            select_order.append(alias)
            continue
        measures[alias] = (agg, "*" if col == "*" else col)
        select_order.append(alias)
    if sorted(sel_keys) != sorted(keys) or not measures:
        return None
    n_aggs = sum(1 for item in _split_top_level(select_list)
                 if not _IDENT_RE.match(item.strip()))
    if n_aggs != len(measures):  # duplicate aliases collapsed -> not
        return None              # provably the same shape as plain SQL
    where_conds: list[str] = []
    if where_clause is not None:
        for cond in _AND_RE.split(where_clause.strip()):
            wm = _WHERE_COND_RE.match(cond.strip())
            if not wm or wm.group(1) not in keys:
                return None  # non-key / non-equality WHERE: not routable
            where_conds.append(f"{wm.group(1)} = {wm.group(2)}")
    pres = _parse_presentation(having_clause, order_clause, limit_clause,
                               keys, measures)
    if pres is None:
        return None
    having_conds, order_terms, limit_n = pres
    return (table, AggRequest(keys={k: None for k in keys},
                              measures=measures),
            where_conds, having_conds, order_terms, limit_n, select_order)


_JOIN_RE = re.compile(
    r"\s+JOIN\s+([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)\s+ON\s+"
    r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)",
    re.IGNORECASE)
_STAR_SHAPE_RE = re.compile(
    r"^\s*SELECT\s+(.*?)\s+FROM\s+([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)"
    rf"((?:{_JOIN_RE.pattern}){{1,2}})"
    r"(?:\s+WHERE\s+(.+?))?"
    r"\s+GROUP\s+BY\s+(.+?)"
    r"(?:\s+HAVING\s+(.+?))?"
    r"(?:\s+ORDER\s+BY\s+(.+?))?"
    r"(?:\s+LIMIT\s+(\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)
_STAR_WHERE_RE = re.compile(
    rf"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*({_LITERAL})$")
_QCOL_RE = re.compile(r"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)$")
_STAR_AGG_RE = re.compile(
    r"^\s*(SUM|COUNT|AVG|MIN|MAX)\s*"
    r"\(\s*(\*|[A-Za-z_]\w*\.[A-Za-z_]\w*)\s*\)"
    r"\s+AS\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE)


def parse_star_agg_sql(text: str):
    """Parse the restricted one- or two-dimension star grammar
    ``SELECT <d1.a | d2.b | f.col | AGG(f.m) AS alias>... FROM <fact> f
    JOIN <dim1> d1 ON f.k1 = d1.dk1 [JOIN <dim2> d2 ON f.k2 = d2.dk2]
    [WHERE <dim-qualified equality conjunction>]
    GROUP BY <the non-agg select items>
    [HAVING <agg_alias> <cmp> <num> [AND ...]]
    [ORDER BY <out_col> [ASC|DESC], ...] [LIMIT n]``
    into (fact, dims, items, having, order, limit) — or None when the
    statement doesn't fit. Each entry of ``dims`` is (dim_table, fact_key,
    dim_key, where) in JOIN order, where ``where`` lists that dim's
    (dim_col, literal_text) equality conditions; each item is
    ("key", "fact"|"dim1"|"dim2", col) or ("agg", agg, col-or-*, alias)
    in SELECT order. HAVING / ORDER BY / LIMIT carry the flat grammar's
    discipline verbatim (``_parse_presentation``): HAVING compares
    declared aggregate aliases to numeric literals, ORDER BY references
    served output names, and LIMIT requires a key-complete ORDER BY
    (total order over unique group keys → deterministic cut).

    Same exact-match philosophy as ``parse_agg_sql``: one or two INNER
    equi-joins, each ON pairing the fact alias with ITS dim's alias on a
    single qualified column pair (a dim-dim ON term would not be an
    eager-aggregation star), pairwise distinct aliases, every
    SELECT/GROUP BY column qualified by a declared alias, measures only
    over fact columns (or COUNT(*)) with mandatory AS aliases, no
    expressions/OUTER joins, and no duplicate output names. WHERE is
    accepted ONLY as a conjunction of dim-qualified equality-to-literal
    terms, each routed to its own dim: a predicate over one dim's columns
    commutes with the inner joins (filter the dim before joining ≡ filter
    the joined rows) and runs pre-aggregation on both the routed and
    plain-SQL forms, so routing stays provably exact — a fact-side or
    non-equality WHERE returns None. The two dim TABLES may coincide
    (role-playing dimensions) — sides are tracked by alias throughout.
    Anything not PROVABLY in the grammar (three or more joins included)
    returns None and the caller runs plain Spark SQL — a mis-parse
    silently routed through a summary would be a wrong answer.
    """
    m = _STAR_SHAPE_RE.match(text)
    if not m:
        return None
    # groups 5-10 are the last JOIN's captures; _JOIN_RE re-reads them all
    sel, fact, fa, joins = m.groups()[:4]
    (where_clause, group_by, having_clause, order_clause,
     limit_clause) = m.groups()[-5:]
    dims: list[tuple[str, str, str, list[tuple[str, str]]]] = []
    side_of = {fa: "fact"}
    where_of: dict[str, list[tuple[str, str]]] = {}  # dim alias -> terms
    for jm in _JOIN_RE.finditer(joins):
        dim, da, lq, lc, rq, rc = jm.groups()
        if da in side_of or dim == fact or {lq, rq} != {fa, da}:
            return None
        side_of[da] = f"dim{len(dims) + 1}"
        where_of[da] = []
        fkey, dkey = (lc, rc) if lq == fa else (rc, lc)
        dims.append((dim, fkey, dkey, where_of[da]))
    if where_clause is not None:
        for cond in _AND_RE.split(where_clause.strip()):
            wm = _STAR_WHERE_RE.match(cond.strip())
            if not wm or wm.group(1) not in where_of:
                return None  # only dim-side equality predicates commute
            where_of[wm.group(1)].append((wm.group(2), wm.group(3)))
    gterms = []
    for g in group_by.split(","):
        qm = _QCOL_RE.match(g.strip())
        if not qm or qm.group(1) not in side_of:
            return None
        gterms.append((side_of[qm.group(1)], qm.group(2)))
    items: list[tuple] = []
    keys_seen: list[tuple[str, str]] = []
    for item in _split_top_level(sel):
        item = item.strip()
        qm = _QCOL_RE.match(item)
        if qm:
            if qm.group(1) not in side_of:
                return None
            items.append(("key", side_of[qm.group(1)], qm.group(2)))
            keys_seen.append((side_of[qm.group(1)], qm.group(2)))
            continue
        am = _STAR_AGG_RE.match(item)
        if not am:
            return None
        agg, arg, alias = am.group(1).lower(), am.group(2), am.group(3)
        if arg == "*":
            if agg != "count":
                return None
            col = "*"
        else:
            q, col = arg.split(".")
            if q != fa:
                return None  # only fact-side measures re-aggregate safely
        items.append(("agg", agg, col, alias))
    if sorted(keys_seen) != sorted(gterms):
        return None
    if not any(i[0] == "agg" for i in items):
        return None
    names = [i[2] if i[0] == "key" else i[3] for i in items]
    if len(set(names)) != len(names):
        return None
    pres = _parse_presentation(
        having_clause, order_clause, limit_clause,
        [i[2] for i in items if i[0] == "key"],
        {i[3] for i in items if i[0] == "agg"})
    if pres is None:
        return None
    return (fact, dims, items) + pres


def _split_top_level(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out
