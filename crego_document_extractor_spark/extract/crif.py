"""CRIF bureau-report parameter extraction — result structs in JVM SQL.

Mirrors the reference control flow (crif.py:37-78, 123-221) for all 15
parameters.  The result builders here are SQL expressions over a fixed
column contract — per-parameter best-chunk score (``bscore_i``),
chunk-aware values (``cv_i``/``bt_id_i``, ``nc_i``/``mc_i``) and the
report/account aggregates — and two plans fill that contract:

* the shipped form, ``extract_all_udf``: the fused parse stage
  (parse.py ``fuse_retrieval=True``) emits every column as a primitive,
  so extraction is one codegen projection + explode;
* the relational check plan, ``extract_all(parsed, engine='sql')``:
  retrieval, table signatures and account aggregates computed JVM-side
  by independent SQL forms (retrieval_sql.py, sqlexpr.py).

``extract_crif_legacy`` is the reference's direct-parsing mode; its
account path is relational (posexplode → codegen regexp columns →
per-row aggregation, see ``_with_accounts``).

Reference-faithful quirks preserved (see oracle.py for the full list):

* 'chunk_aware' is missing from CONFIDENCE_METHOD_WEIGHTS → weight 0.5
  (crif.py:542 ``dict.get(..., 0.5)``)
* a direct parameter whose value is None after fallback still reports
  status 'extracted' (output_formatter.py:22 default)
* derived parameters always compute from the full report
  (crif.py:428-436)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import sqlexpr as X
from ..specs import PARAMETER_SPECS

_NULLS = ("CAST(NULL AS double)", "CAST(NULL AS boolean)",
          "CAST(NULL AS string)", "CAST(NULL AS double)")

RESULT_FIELDS = ("param_id", "value_num", "value_bool", "value_str",
                 "value_type", "source", "confidence", "status",
                 "similarity_score")


def _result(param_id: str, value_num: str, value_bool: str, value_str: str,
            value_type: str, source: str, confidence: str, status: str,
            sim: str) -> str:
    return ("named_struct("
            f"'param_id', '{param_id}', "
            f"'value_num', {value_num}, "
            f"'value_bool', {value_bool}, "
            f"'value_str', {value_str}, "
            f"'value_type', {value_type}, "
            f"'source', {source}, "
            f"'confidence', {confidence}, "
            f"'status', {status}, "
            f"'similarity_score', {sim})")


def _policy_result(pid: str) -> str:
    return _result(pid, *_NULLS[:3], "'null'",
                   "'Not applicable (policy parameter)'", "0.0d",
                   "'not_applicable'", _NULLS[3])


def _not_found_result(pid: str) -> str:
    return _result(pid, *_NULLS[:3], "'null'",
                   "'No relevant sections found'", "0.0d",
                   "'not_found'", _NULLS[3])


# per-spec chunk-aware DIRECT extraction (crif.py:311-359); bt = the
# best chunk's table (or NULL)
def _direct_chunk_value(pid: str, bt: str) -> str:
    if pid == "bureau_credit_score":
        return (f"(CASE WHEN {bt} IS NOT NULL AND {X.score_sig(bt)} "
                f"THEN {X.score_from_table(bt)} END)")
    if pid == "bureau_written_off_debt_amount":
        return (f"(CASE WHEN {bt} IS NOT NULL AND {X.summary_sig(bt)} "
                f"THEN {X.summary_cell(bt, 'Total Writeoff Amt')} END)")
    if pid == "bureau_max_loans":
        return (f"(CASE WHEN {bt} IS NOT NULL AND {X.summary_sig(bt)} "
                f"THEN cast({X.summary_cell(bt, 'Number of Accounts')} AS int) END)")
    if pid == "bureau_max_active_loans":
        return (f"(CASE WHEN {bt} IS NOT NULL AND {X.summary_sig(bt)} "
                f"THEN cast({X.summary_cell(bt, 'Active Accounts')} AS int) END)")
    if pid == "bureau_credit_inquiries":
        return f"(CASE WHEN {bt} IS NOT NULL THEN {X.inq_from_table(bt)} END)"
    raise KeyError(pid)


_DIRECT_LABEL = {
    "bureau_credit_score": "Verification Table",
    "bureau_written_off_debt_amount": "Account Summary Table",
    "bureau_max_loans": "Account Summary Table",
    "bureau_max_active_loans": "Account Summary Table",
    "bureau_credit_inquiries": "Inquiry Table",
}

_DIRECT_REPORT_VALUE = {
    "bureau_credit_score": "rep_score",
    "bureau_written_off_debt_amount": "rep_sum_total_writeoff_amount",
    "bureau_max_loans": "rep_sum_total_accounts",
    "bureau_max_active_loans": "rep_sum_active_accounts",
    "bureau_credit_inquiries": "rep_inquiries",
}

#: doc_summary struct fields, flattened to primitive columns so every
#: column that crosses the account aggregation has a mutable (hash-
#: aggregable) buffer type — struct/array carries would force the
#: whole aggregation into SortAggregate
_SUMMARY_FIELDS = ("total_accounts", "active_accounts",
                   "total_current_balance", "total_overdue_amount",
                   "total_writeoff_amount")


def _direct_param(i: int, spec: dict) -> str:
    pid = spec["param_id"]
    bscore = f"bscore_{i}"
    bt_id = f"bt_id_{i}"
    chunk_val = f"cv_{i}"
    rep_val = _DIRECT_REPORT_VALUE[pid]
    label = _DIRECT_LABEL[pid]
    value = f"coalesce({chunk_val}, {rep_val})"
    is_float = spec["expected_type"] == "float"
    valid = X.validity("vv", spec["validator"])
    # crif.py:540-554 + 556-561: weight 0.5 (chunk) / 0.9 (report),
    # zeroed by validator, × similarity boost when a value exists
    conf = (f"(CASE WHEN {value} IS NULL THEN 0.0d "
            f"ELSE (CASE WHEN NOT (SELECT_VALID) THEN 0.0d "
            f"WHEN {chunk_val} IS NOT NULL THEN 0.5d ELSE 0.9d END) "
            f"* {X.boost(bscore)} END)"
            ).replace("SELECT_VALID", valid.replace("vv", value))
    source = (f"(CASE WHEN {chunk_val} IS NOT NULL "
              f"THEN concat('{label} (from Table ', cast({bt_id} + 1 AS string), ')') "
              f"ELSE '{label}' END)")
    vtype = (f"(CASE WHEN {value} IS NULL THEN 'null' "
             f"ELSE '{'float' if is_float else 'int'}' END)")
    sim = f"(CASE WHEN {value} IS NOT NULL THEN {bscore} END)"
    return _result(pid, f"cast({value} AS double)", _NULLS[1], _NULLS[2],
                   vtype, source, conf, "'extracted'", sim)


def _flag_param(i: int, spec: dict) -> str:
    pid = spec["param_id"]
    bscore = f"bscore_{i}"
    if pid in X.FLAG_PREDS:
        # nc_i / mc_i: accounts in the winning chunk and how many of
        # them match the flag predicate (crif.py:395-401)
        n_chunk = f"nc_{i}"
        m_chunk = f"mc_{i}"
        chunk_ok = f"({n_chunk} > 0 AND {m_chunk} > 0)"
        rep_m = f"rep_m_{pid}"
        value = f"(CASE WHEN {chunk_ok} THEN true ELSE {rep_m} > 0 END)"
        source = (f"(CASE WHEN {chunk_ok} THEN concat('Account Remarks (', "
                  f"cast({m_chunk} AS string), '/', cast({n_chunk} AS string), "
                  f"' accounts in chunk)') "
                  f"ELSE concat('Account Remarks (', cast({rep_m} AS string), "
                  f"'/', cast(n_accounts AS string), ' accounts)') END)")
        conf = (f"(CASE WHEN {chunk_ok} THEN 0.5d ELSE 0.9d END) "
                f"* {X.boost(bscore)}")
    else:  # bureau_ntc_accepted — no checker, report path (crif.py:263-266)
        value = "false"
        source = "concat('Account Remarks (0/', cast(n_accounts AS string), ' accounts)')"
        conf = f"0.9d * {X.boost(bscore)}"
    return _result(pid, _NULLS[0], value, _NULLS[2], "'bool'",
                   source, conf, "'extracted'", bscore)


_DERIVED_VALUE = {
    "bureau_dpd_30": ("rep_dpd30", "int"),
    "bureau_dpd_60": ("rep_dpd60", "int"),
    "bureau_dpd_90": ("rep_dpd90", "int"),
    "bureau_no_live_pl_bl": ("NOT rep_live_plbl", "bool"),
}


def _derived_param(i: int, spec: dict) -> str:
    pid = spec["param_id"]
    bscore = f"bscore_{i}"
    value, vtype = _DERIVED_VALUE[pid]
    source = "concat('Computed from ', cast(n_accounts AS string), ' accounts')"
    conf = f"0.9d * {X.boost(bscore)}"
    if vtype == "bool":
        return _result(pid, _NULLS[0], f"({value})", _NULLS[2], "'bool'",
                       source, conf, "'extracted'", bscore)
    return _result(pid, f"cast({value} AS double)", _NULLS[1], _NULLS[2],
                   "'int'", source, conf, "'extracted'", bscore)


#: chunks holding account blocks (crif.py:395 header routing)
_ACCT_CHUNKS = "filter(chunks, c -> startswith(c.header, 'Account Information'))"

#: per-account scalar fields consumed by the report aggregates
_ACCT_FIELDS = ("account_type", "remarks", "is_active", "worst_dpd")


def _with_accounts(df: DataFrame, carry: list[str]) -> DataFrame:
    """Relational account path (parse_crif_report, crif_parser.py:7-25
    + crif_models.py:47-88).

    posexplode_outer the account chunks (empty docs keep a null row),
    compute each account field as a scalar regexp column — codegen, not
    an interpreted lambda — and aggregate per input ROW.  The ``carry``
    columns survive on the pos-0 row only and come back through
    first(ignorenulls), so each doc's payload crosses the shuffle
    exactly once and rows 1..n carry just the account scalars.

    The grouping key is a per-row id, NOT doc_id: the reference
    processes one request = one document, so two input rows that
    happen to share a doc_id must stay independent results (row-count
    preserved).  monotonically_increasing_id is deterministic per
    (partition, row-index) and never appears in the output — it is
    consumed by the aggregation inside the same single lineage."""
    keep_pos0 = [
        F.when(F.col("apos").isNull() | (F.col("apos") == 0), F.col(c)).alias(c)
        for c in carry
    ]
    fields = X.account_fields("ac.text")
    ex = (df.withColumn("_rid", F.monotonically_increasing_id())
          .select("_rid", "doc_id", *carry,
                  F.posexplode_outer(F.expr(_ACCT_CHUNKS)).alias("apos", "ac"))
          .select("_rid", "doc_id", *keep_pos0,
                  *[F.expr(fields[f]).alias(f) for f in _ACCT_FIELDS]))
    valid = "(account_type IS NOT NULL AND account_type != '')"
    live = f"({valid} AND {X.live_plbl_pred('account_type', 'is_active')})"
    aggs = [F.first(c, ignorenulls=True).alias(c) for c in carry]
    aggs += [
        F.count(F.when(F.expr(valid), 1)).cast("int").alias("n_accounts"),
        F.count(F.when(F.expr(f"{valid} AND worst_dpd >= 30"), 1))
        .cast("int").alias("rep_dpd30"),
        F.count(F.when(F.expr(f"{valid} AND worst_dpd >= 60"), 1))
        .cast("int").alias("rep_dpd60"),
        F.count(F.when(F.expr(f"{valid} AND worst_dpd >= 90"), 1))
        .cast("int").alias("rep_dpd90"),
        F.coalesce(F.max(F.expr(live)), F.lit(False)).alias("rep_live_plbl"),
    ]
    for pid, pred in X.FLAG_PREDS.items():
        p = pred.format(r="remarks")
        aggs.append(F.count(F.when(F.expr(f"{valid} AND {p}"), 1))
                    .cast("int").alias(f"rep_m_{pid}"))
    return ex.groupBy("_rid", "doc_id").agg(*aggs).drop("_rid")


def _with_tables(df: DataFrame) -> DataFrame:
    """Table-signature report values (crif_parser.py:28-127) — narrow
    higher-order exprs over the small per-doc tables array; the summary
    struct is flattened to primitive columns (see _SUMMARY_FIELDS).
    The fused parse stage computes the same values in Python from the
    semantics extractors (parse._parse_retr_batches); these SQL forms
    serve the relational check plan and the legacy mode."""
    df = (df.withColumn("rep_score", F.expr(X.doc_score()))
          .withColumn("rep_summary", F.expr(X.doc_summary()))
          .withColumn("rep_inquiries", F.expr(X.doc_inquiries())))
    for fld in _SUMMARY_FIELDS:
        df = df.withColumn(f"rep_sum_{fld}", F.col(f"rep_summary.{fld}"))
    return df.drop("rep_summary")

#: primitive report columns carried across the account aggregation
_REP_CARRY = ["rep_score", "rep_inquiries"] + [
    f"rep_sum_{fld}" for fld in _SUMMARY_FIELDS]


_LEGACY_WEIGHTS = {"direct": "0.95d", "flag": "0.85d", "derived": "1.0d"}


def extract_crif_legacy(parsed: DataFrame) -> DataFrame:
    """Legacy direct-parsing mode (crif_legacy.py:22-159,
    USE_EMBEDDING_GUIDED_EXTRACTION=False): report-level values only,
    direct_table/flag_detection/computed weights, no similarity boost,
    formatter-default 'extracted' status everywhere (incl. policy)."""
    df = _with_accounts(_with_tables(parsed.where(F.col("doc_kind") == "crif")),
                        list(_REP_CARRY))
    results = []
    for spec in PARAMETER_SPECS:
        pid = spec["param_id"]
        cat = spec["category"]
        if cat == "policy":
            results.append(_result(pid, *_NULLS[:3], "'null'",
                                   "'Not applicable (policy parameter)'",
                                   "0.0d", "'extracted'", _NULLS[3]))
            continue
        w = _LEGACY_WEIGHTS[cat]
        if cat == "direct":
            value = _DIRECT_REPORT_VALUE[pid]
            valid = X.validity(value, spec["validator"])
            conf = (f"(CASE WHEN {value} IS NULL THEN 0.0d "
                    f"WHEN NOT {valid} THEN 0.0d ELSE {w} END)")
            vtype = (f"(CASE WHEN {value} IS NULL THEN 'null' ELSE "
                     f"'{'float' if spec['expected_type'] == 'float' else 'int'}' END)")
            results.append(_result(pid, f"cast({value} AS double)", _NULLS[1],
                                   _NULLS[2], vtype,
                                   f"'{_DIRECT_LABEL[pid]}'", conf,
                                   "'extracted'", _NULLS[3]))
        elif cat == "flag":
            m = f"rep_m_{pid}" if pid in X.FLAG_PREDS else "0"
            value = f"({m} > 0)"
            source = (f"concat('Account Remarks (', cast({m} AS string), '/', "
                      f"cast(n_accounts AS string), ' accounts)')")
            results.append(_result(pid, _NULLS[0], value, _NULLS[2], "'bool'",
                                   source, w, "'extracted'", _NULLS[3]))
        else:
            value, vtype = _DERIVED_VALUE[pid]
            source = "concat('Computed from ', cast(n_accounts AS string), ' accounts')"
            if vtype == "bool":
                results.append(_result(pid, _NULLS[0], f"({value})", _NULLS[2],
                                       "'bool'", source, w, "'extracted'", _NULLS[3]))
            else:
                results.append(_result(pid, f"cast({value} AS double)",
                                       _NULLS[1], _NULLS[2], "'int'", source,
                                       w, "'extracted'", _NULLS[3]))
    arr = "array(" + ", ".join(results) + ")"
    return (df.select("doc_id", F.explode(F.expr(arr)).alias("r"))
            .select("doc_id", *[f"r.{f}" for f in RESULT_FIELDS]))


def default_engine(n_docs: int | None = None) -> str:
    """Constant 'udf' (the shipped form); kept for bench.py's ``engine_default`` field."""
    return "udf"


def _kind_routed(df: DataFrame, crif_results: list[str]) -> DataFrame:
    """Kind routing (main.py:66-69) as a CASE over per-kind result
    arrays inside ONE lineage, then explode to the long results table
    (one row per (doc_id, param_id)); other kinds yield no rows."""
    from .gstr import gstr_result_structs

    arr = (f"CASE WHEN doc_kind = 'crif' THEN array({', '.join(crif_results)}) "
           f"WHEN doc_kind = 'gstr' THEN {gstr_result_structs()} "
           f"ELSE array() END")
    return (df.select("doc_id", F.explode(F.expr(arr)).alias("r"))
            .select("doc_id", *[f"r.{f}" for f in RESULT_FIELDS]))


def _crif_results() -> list[str]:
    """The 15 crif result structs over the per-parameter primitive
    columns (bscore_i, cv_i/bt_id_i, nc_i/mc_i) and the report/account
    aggregates — the column contract both extraction forms satisfy."""
    results = []
    for i, spec in enumerate(PARAMETER_SPECS):
        pid = spec["param_id"]
        if spec["category"] == "policy":
            results.append(_policy_result(pid))
            continue
        if spec["category"] == "direct":
            struct = _direct_param(i, spec)
        elif spec["category"] == "flag":
            struct = _flag_param(i, spec)
        else:
            struct = _derived_param(i, spec)
        # retrieval miss → NOT_FOUND (crif.py:154-162)
        results.append(f"(CASE WHEN bscore_{i} IS NULL "
                       f"THEN {_not_found_result(pid)} ELSE {struct} END)")
    return results


def extract_all(parsed: DataFrame, engine: str = "udf") -> DataFrame:
    """Embedding-guided extraction for both document kinds.

    engine='udf' (the shipped form): ``extract_all_udf`` over the fused
    parse (``parse_documents(docs, fuse_retrieval=True)``).
    engine='sql': the relational check plan over the full parsed schema
    (``parse_documents(docs)``) — retrieval, report values and account
    aggregates computed JVM-side by independent SQL forms
    (retrieval_sql.py), so agreement with the shipped form is a real
    cross-check (q_a9b_engine_agreement, the parity fixture)."""
    if engine == "udf":
        return extract_all_udf(parsed)
    if engine != "sql":
        raise ValueError(f"unknown engine {engine!r} (expected 'udf' or 'sql')")
    from .gstr import with_gstr_columns
    from .retrieval_sql import relational_extract_columns

    if "tables" not in parsed.columns:
        raise ValueError(
            "engine='sql' needs the full parsed schema "
            "(tables/chunks/text); got a pre-flattened fused parse — "
            "use parse_documents(docs) without fuse_retrieval")
    # r6: the relational plan references text/tables/chunks dozens
    # of times; over the prunable JVM parse those are interpreted
    # HOF expressions the optimizer may inline per reference
    # (measured 25 s → 74 s at sf1.0/240k).  When the input is an
    # unmodified parse_documents() output, rebuild from its source
    # with the opaque Arrow parse — one materialization, attribute
    # references downstream (the exact pre-r6 plan; parity between
    # the two parse forms is pinned by the span-equality suite).
    src = getattr(parsed, "_plain_parse_docs", None)
    if src is not None:
        from ..parse import parse_documents_arrow
        parsed = parse_documents_arrow(src)
    df = relational_extract_columns(with_gstr_columns(_with_tables(parsed)))
    return _kind_routed(df, _crif_results())


def extract_all_udf(parsed: DataFrame) -> DataFrame:
    """The shipped extraction projection: over the fused parse
    (parse.py ``fuse_retrieval=True``) every per-parameter scalar is
    already a primitive column, so this is pure codegen — build the
    result structs, explode.  Zero shuffles, zero JVM HOFs."""
    if "bscore_0" not in parsed.columns:
        raise ValueError(
            "extract_all_udf needs the fused parse "
            "(parse_documents(docs, fuse_retrieval=True)); for the full "
            "parsed schema use extract_all(parsed, engine='sql')")
    return _kind_routed(parsed, _crif_results())
