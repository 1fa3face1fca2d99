"""CH ``ORDER BY col WITH FILL`` for the /query admin surface.

The /metricData and /render series gap fill is not here: it is part of
the one read statement in ``plans/metricdata.py``, where grid rows join
the bucket aggregation instead of a join.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


# ---------------------------------------------------------------------------
# CH ``ORDER BY col WITH FILL`` (the /query admin spelling) — ONE
# semantics, two execution paths. The spec dict comes from
# api.service._extract_with_fill: {col, desc, from, to, step,
# interpolate, limit(caller-applied)}.
#
# Semantics (CH FillingTransform): walk the sorted result, inserting
# fill rows stepped from the PREVIOUS row's value (or FROM before the
# first row, TO — exclusive — after the last). Other columns take
# their type defaults; INTERPOLATE (cols) carry the previous row's
# values instead.
#
# Paths:
# - ``stepped_fill_rows``: the driver loop — O(filled) python, right
#   for the common small interactive result;
# - ``stepped_fill_frame``: sequence()+explode on executors — right
#   when the fill EXPANSION is large (sparse result over a wide FROM/TO range),
#   where a driver loop would grind; the lead/row_number window runs
#   over the already-bounded result (<= max_rows), the expansion is
#   repartitioned before explode so it parallelizes.
# ``stepped_fill`` routes between them and REFUSES expansions past
# ``max_filled_rows`` (the reference-posture refusal: /query
# materializes the response, so an unbounded `FROM 0 TO 1e12` must
# 400, not OOM the server).
# ---------------------------------------------------------------------------


def _fill_default(field):
    k = field.dataType.simpleString()
    if k in ("bigint", "int", "smallint", "tinyint"):
        return 0
    if k in ("double", "float") or k.startswith("decimal"):
        return 0.0
    if k == "string":
        return ""
    if k == "boolean":
        return False
    return None


def _fill_validate(schema, spec):
    names = [f.name for f in schema.fields]
    if spec["col"] not in names:
        raise ValueError(f"WITH FILL column {spec['col']!r} is not in the "
                         "result")
    ci = names.index(spec["col"])
    kind = schema.fields[ci].dataType.simpleString()
    if kind not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError("WITH FILL needs an integral ORDER BY column "
                         f"(got {kind})")
    for c in spec.get("interpolate") or []:
        if c not in names:
            raise ValueError(f"INTERPOLATE column {c!r} is not in the result")
        if c == spec["col"]:
            raise ValueError("the WITH FILL column cannot be INTERPOLATEd "
                             "(its fill values are stepped, as in CH)")
    return ci


def stepped_fill_rows(rows, schema, spec):
    """Driver-loop path: exact CH FillingTransform walk."""
    from pyspark.sql import Row

    names = [f.name for f in schema.fields]
    ci = _fill_validate(schema, spec)
    defaults = [_fill_default(f) for f in schema.fields]
    R = Row(*names)
    interp = spec.get("interpolate") or []
    ii = [names.index(c) for c in interp]

    prev = [None]

    def mk(v):
        vals = list(defaults)
        vals[ci] = v
        if prev[0] is not None:
            for i in ii:  # carry-forward, CH INTERPOLATE (col) form
                vals[i] = prev[0][i]
        return R(*vals)

    sgn = -1 if spec["desc"] else 1
    st = spec["step"] * sgn
    out = []
    cur = spec["from"] if spec["from"] is not None else (
        rows[0][ci] if rows else None)
    for r in rows:
        v = r[ci]
        if v is None:
            out.append(r)
            continue
        while cur is not None and (v - cur) * sgn > 0:
            out.append(mk(cur))
            cur += st
        out.append(r)
        prev[0] = r
        cand = v + st
        if cur is None or (cand - cur) * sgn > 0:
            cur = cand
    if spec["to"] is not None and cur is not None:
        while (spec["to"] - cur) * sgn > 0:  # TO is exclusive, as in CH
            out.append(mk(cur))
            cur += st
    return out


def stepped_fill_frame(spark, rows, schema, spec, partitions: int = 32):
    """Distributed path: per-row gap -> sequence() -> explode, interp
    columns carried through the explode, union with the original rows,
    one final sort. Identical output to :func:`stepped_fill_rows` for
    the non-degenerate inputs the router sends here (no NULL fill-col
    values, FROM not beyond the first value)."""
    from pyspark.sql import Row, Window

    names = [f.name for f in schema.fields]
    ci = _fill_validate(schema, spec)
    col = spec["col"]
    desc = spec["desc"]
    sgn = -1 if desc else 1
    sst = spec["step"] * sgn
    interp = spec.get("interpolate") or []

    # __pos = input position: the tiebreak that reproduces the driver
    # walk's order for duplicate fill-col values
    base = spark.createDataFrame(
        [tuple(r) + (i,) for i, r in enumerate(rows)],
        StructType(list(schema.fields)
                   + [StructField("__pos", LongType())]))
    order = [F.col(col).desc() if desc else F.col(col).asc(),
             F.col("__pos").asc()]
    w = Window.orderBy(*order)
    df = (base
          .withColumn("__nxt", F.lead(col).over(w))
          .withColumn("__rn", F.row_number().over(w))
          .repartition(partitions))  # expansion parallelizes from here

    c = F.col(col).cast("long")
    nxt = F.col("__nxt").cast("long")
    to_lit = (F.lit(int(spec["to"])) if spec["to"] is not None
              else F.lit(None).cast("long"))
    end_v = F.when(nxt.isNotNull(), nxt).otherwise(to_lit)
    # fill values v = col+sst, col+2sst, ... while (end - v)*sgn > 0
    # == sequence(col+sst, end - sgn, sst), guarded non-empty
    t_start, t_stop = c + F.lit(sst), end_v - F.lit(sgn)
    trail_seq = F.when(
        c.isNotNull() & end_v.isNotNull()
        & ((t_stop - t_start) * F.lit(sgn) >= 0),
        F.sequence(t_start, t_stop, F.lit(sst)),
    ).otherwise(F.array().cast("array<long>"))
    # leading FROM fills hang off the first row, defaults only
    frm_lit = (F.lit(int(spec["from"])) if spec["from"] is not None
               else F.lit(None).cast("long"))
    l_stop = c - F.lit(sgn)
    lead_seq = F.when(
        (F.col("__rn") == 1) & c.isNotNull() & frm_lit.isNotNull()
        & ((l_stop - frm_lit) * F.lit(sgn) >= 0),
        F.sequence(frm_lit, l_stop, F.lit(sst)),
    ).otherwise(F.array().cast("array<long>"))

    def fill_select(seq_col, carry: bool, pos_expr):
        cols = []
        for i, f in enumerate(schema.fields):
            if i == ci:
                cols.append(F.col("__v").cast(f.dataType).alias(f.name))
            elif carry and f.name in interp:
                cols.append(F.col(f.name))
            else:
                cols.append(
                    F.lit(_fill_default(f)).cast(f.dataType).alias(f.name))
        return (df.select(F.explode(seq_col).alias("__v"),
                          *[F.col(n) for n in set(interp) | {"__pos"}])
                if carry else
                df.select(F.explode(seq_col).alias("__v"), "__pos")
                ).select(*cols, pos_expr.alias("__pos2"))

    # trail fills sort after their anchor row; lead fills before row 1
    trail = fill_select(trail_seq, carry=True, pos_expr=F.col("__pos"))
    lead = fill_select(lead_seq, carry=False,
                       pos_expr=F.col("__pos") - F.lit(1))
    real = base.select(*[F.col(n) for n in names],
                       F.col("__pos").alias("__pos2"))
    out = (real.unionByName(trail).unionByName(lead)
           .orderBy(F.col(col).desc() if desc else F.col(col).asc(),
                    F.col("__pos2").asc())
           .select(*names))
    R = Row(*names)
    return [R(*[r[n] for n in names]) for r in out.collect()]


def _rewrite_interp_expr(expr: str, names: list[str], prefix: str) -> str:
    """Rewrite bare column identifiers in a CH ``INTERPOLATE (col AS
    expr)`` expression to ``<prefix>.`col``` references (token-safe:
    literals inside the expression are never rewritten; function-call
    names are skipped via the ``(?!\\s*\\()`` guard)."""
    import re as _re

    from graphouse_spark.api.sqlguard import tokenize

    name_set = set(names)
    out = []
    for s in tokenize(expr):
        if s.kind != "code":
            out.append(s.text)
            continue

        def repl(m):
            ident = m.group(1)
            if ident in name_set:
                return f"{prefix}.`{ident}`"
            return ident

        out.append(_re.sub(r"(?<![\w.`])([A-Za-z_]\w*)\b(?!\s*\()",
                           repl, s.text))
    return "".join(out)


def stepped_fill_rows_expr(spark, rows, schema, spec, partitions: int = 32):
    """CH ``INTERPOLATE (col AS expr)`` path: the driver does the SAME
    walk as :func:`stepped_fill_rows` but each run of consecutive fill
    rows (a "gap") becomes a placeholder; the expressions are then
    evaluated in ONE Spark job — per gap, ``aggregate()`` folds the
    fill-value sequence, stepping an accumulator row exactly like CH's
    FillingTransform steps its previous-row state:

      - the interpolated column takes ``expr`` evaluated over the
        previous OUTPUT row (so consecutive fill rows chain:
        ``v AS v+1`` counts up);
      - plain INTERPOLATE columns carry the previous value
        (``col AS col``);
      - every other column resets to its type default after the first
        fill row, which is what the previous fill row actually holds —
        faithful to CH, where the expression sees the inserted row.

    Scale posture: one DataFrame row per gap, chains evaluated
    executor-side (the chain itself is inherently sequential — CH
    computes it in one stream too); gaps parallelize across the
    cluster. Leading fills (no previous row) take type defaults with
    no expression, as in the carry path."""
    from pyspark.sql import Row
    from pyspark.sql.types import ArrayType, StructType as ST, StructField as SF

    names = [f.name for f in schema.fields]
    ci = _fill_validate(schema, spec)
    interp = spec.get("interpolate") or []
    exprs = spec.get("interpolate_exprs") or {}
    # Defense-in-depth: interpolate expressions are evaluated via
    # F.expr below, a path the HTTP guard's plan-tree walk never sees
    # unless the caller re-guards them. Ban the JVM-reflection /
    # file-introspection functions here too, so the library is safe
    # even if a future caller forgets the service-side check. Callers
    # cannot hide the identifier in a string literal — string-bearing
    # INTERPOLATE clauses are never recognized by the clause parser —
    # and concat(chr(...)) tricks still need the bare identifier to
    # reach the function-call position this scan covers.
    import re as _bre

    from graphouse_spark.api.sqlguard import _BANNED_FUNCTIONS, tokenize as _btok

    for _ex in exprs.values():
        for _seg in _btok(_ex):
            if _seg.kind != "code":
                continue
            for _m in _bre.finditer(r"\b([A-Za-z_]\w*)\s*\(", _seg.text):
                if _m.group(1).lower() in _BANNED_FUNCTIONS:
                    raise ValueError(
                        f"function {_m.group(1)} is not served in "
                        f"INTERPOLATE expressions")
    defaults = [_fill_default(f) for f in schema.fields]
    sgn = -1 if spec["desc"] else 1
    st = spec["step"] * sgn

    # -- the walk: same control flow as stepped_fill_rows, fill rows
    # recorded as (gap, k) placeholders --
    out: list = []
    gaps: list = []  # [prev_row | None, [fill values]]
    cur_gap = None
    prev = None

    def add_fill(cur_v):
        nonlocal cur_gap
        if cur_gap is None:
            cur_gap = len(gaps)
            gaps.append([prev, []])
        gaps[cur_gap][1].append(int(cur_v))
        out.append(("fill", cur_gap, len(gaps[cur_gap][1]) - 1))

    cur = spec["from"] if spec["from"] is not None else (
        rows[0][ci] if rows else None)
    for r in rows:
        v = r[ci]
        if v is None:
            out.append(("row", r))
            continue
        while cur is not None and (v - cur) * sgn > 0:
            add_fill(cur)
            cur += st
        out.append(("row", r))
        prev = r
        cur_gap = None
        cand = v + st
        if cur is None or (cand - cur) * sgn > 0:
            cur = cand
    if spec["to"] is not None and cur is not None:
        while (spec["to"] - cur) * sgn > 0:
            add_fill(cur)
            cur += st

    # -- one Spark job: aggregate() folds each gap's fill sequence --
    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def lit_sql(val, ddl: str) -> str:
        if val is None:
            return f"cast(null as {ddl})"
        if isinstance(val, bool):
            return "true" if val else "false"
        if isinstance(val, str):
            return "'" + val.replace("'", "''") + "'"
        return repr(val)

    tddl = [f.dataType.simpleString() for f in schema.fields]
    fields_sql = []
    for i, f in enumerate(schema.fields):
        if i == ci:
            e = f"cast(v as {tddl[i]})"
        elif f.name in exprs:
            rewritten = _rewrite_interp_expr(exprs[f.name], names, "acc.row")
            e = f"cast(({rewritten}) as {tddl[i]})"
        elif f.name in interp:
            e = f"acc.row.{q(f.name)}"
        else:
            e = f"cast({lit_sql(defaults[i], tddl[i])} as {tddl[i]})"
        fields_sql.append("'" + f.name.replace("'", "''") + f"', {e}")
    row_sql = "named_struct(" + ", ".join(fields_sql) + ")"
    # init carries the anchor row itself (typing the array without a
    # DDL round-trip); finish slices it back off
    agg_sql = (
        "aggregate(vals, named_struct('row', prev, 'out', array(prev)), "
        f"(acc, v) -> named_struct('row', {row_sql}, "
        f"'out', concat(acc.out, array({row_sql}))), "
        "acc -> slice(acc.out, 2, size(acc.out) - 1))"
    )

    eval_gaps = [(gid, tuple(prevrow), vals)
                 for gid, (prevrow, vals) in enumerate(gaps)
                 if prevrow is not None and vals]
    evaluated: dict = {}
    if eval_gaps:
        gschema = ST([SF("gid", LongType()),
                      SF("prev", ST(list(schema.fields))),
                      SF("vals", ArrayType(LongType()))])
        gdf = spark.createDataFrame(eval_gaps, gschema)
        if len(eval_gaps) > 1:
            gdf = gdf.repartition(min(partitions, len(eval_gaps)))
        for r in gdf.select("gid", F.expr(agg_sql).alias("filled")).collect():
            evaluated[r["gid"]] = r["filled"]

    R = Row(*names)
    final = []
    for item in out:
        if item[0] == "row":
            final.append(item[1])
        else:
            _, g, k = item
            prevrow, vals = gaps[g]
            if prevrow is None:  # leading fills: defaults, no expr
                v = list(defaults)
                v[ci] = vals[k]
                final.append(R(*v))
            else:
                er = evaluated[g][k]
                final.append(R(*[er[i] for i in range(len(names))]))
    return final


def estimate_filled_rows(rows, schema, spec) -> int:
    """Upper bound on the fill rows a spec will generate — O(result)."""
    ci = _fill_validate(schema, spec)
    sgn = -1 if spec["desc"] else 1
    st = spec["step"]
    vals = [r[ci] for r in rows if r[ci] is not None]
    total = 0
    if not vals:
        if spec["from"] is not None and spec["to"] is not None:
            d = (spec["to"] - spec["from"]) * sgn
            total = max(0, (d - 1) // st + 1) if d > 0 else 0
        return total
    if spec["from"] is not None:
        d = (vals[0] - spec["from"]) * sgn
        if d > 0:
            total += (d - 1) // st + 1
    for a, b in zip(vals, vals[1:]):
        d = (b - a) * sgn
        if d > 1:
            total += (d - 1) // st
    if spec["to"] is not None:
        d = (spec["to"] - vals[-1]) * sgn
        if d > 1:
            total += (d - 1) // st
    return total


def stepped_fill(spark, rows, schema, spec,
                 distribute_threshold: int = 5000,
                 max_filled_rows: int = 1_000_000):
    """Route a WITH FILL between the driver loop and the distributed
    sequence-explode path; refuse unbounded expansions."""
    ci = _fill_validate(schema, spec)
    est = estimate_filled_rows(rows, schema, spec)
    if est + len(rows) > max_filled_rows:
        raise ValueError(
            f"WITH FILL would produce ~{est + len(rows)} rows "
            f"(max {max_filled_rows}); narrow FROM/TO or raise STEP")
    if spec.get("interpolate_exprs"):
        # expression interpolation: one walk + one Spark fold job
        # (handles every input shape the two paths below split on)
        return stepped_fill_rows_expr(spark, rows, schema, spec)
    sgn = -1 if spec["desc"] else 1
    degenerate = (
        not rows
        or any(r[ci] is None for r in rows)
        # FROM beyond the first value: the walk's lattice interplay is
        # inherently sequential — tiny results in practice
        or (spec["from"] is not None
            and (rows[0][ci] - spec["from"]) * sgn < 0)
    )
    if degenerate or est + len(rows) <= distribute_threshold:
        return stepped_fill_rows(rows, schema, spec)
    return stepped_fill_frame(spark, rows, schema, spec)
