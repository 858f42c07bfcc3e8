"""Write-audit-publish quality gates (r18) — the workflow snapshot
BRANCHES exist for (Iceberg WAP / Nessie promotion): stage writes on a
branch, AUDIT the staged state with declarative checks, and publish to
main only when every check passes.  A training-data pipeline's last
line of defense: a bad ingest (nulled keys, duplicated documents, a
half-empty extract) lands on the branch, fails the audit, and main
never sees it.

Checks are dicts (unknown kinds and unknown keys refuse up front — the
silent-no-op posture every r18 config surface shares)::

    {"kind": "not_null", "cols": ["doc_id", "text"]}
    {"kind": "unique", "cols": ["doc_id"]}
    {"kind": "expression", "sql": "quality_score >= 0", "name": "q>=0"}
    {"kind": "row_count_delta", "min": 0, "max": 1_000_000}
    {"kind": "accepted_values", "col": "lang", "values": ["en", "de"]}
    {"kind": "referential", "cols": ["nation_key"],
     "ref_table": "lab.nations", "ref_cols": ["n_nationkey"]}

- ``not_null``: zero NULLs in each listed column.
- ``unique``: no duplicate tuples over the listed columns.
- ``expression``: zero rows where the SQL predicate is NOT satisfied
  (NULL predicate counts as a violation — an audit must not pass rows
  it cannot prove).
- ``row_count_delta``: branch row count minus MAIN's current row count
  within [min, max] — catches accidental truncations (min) and
  explosions (max) before they publish; either bound optional.
- ``accepted_values`` (r19, the dbt dictionary test): zero rows whose
  ``col`` is outside ``values``.  A NULL value is a VIOLATION (the
  one-pass posture: unprovable rows never pass) — note dbt's variant
  silently passes NULLs; compose with ``not_null`` semantics is built
  in here instead.
- ``referential`` (r19, dbt ``relationships``): every non-NULL key
  tuple over ``cols`` must exist in ``ref_table`` (dotted
  schema.table, read on main or ``ref_branch``) under ``ref_cols``
  (default: same names).  NULL keys follow SQL FK MATCH SIMPLE — they
  are skipped, reported separately as ``null_keys`` (nullability is
  ``not_null``'s job; conflating them would make every nullable FK
  audit red).  Key/ref dtype mismatches REFUSE up front — implicit
  join coercion ('007' vs 7) could silently flip the verdict (the r12
  merge_into lesson).  One anti-join per check; the dimension side is
  left to AQE to broadcast when small (never forced — r12 lesson).

All row-shaped checks (not_null / expression / accepted_values) run in
ONE aggregate pass over the audited state (conditional counts), plus
one groupBy job per ``unique`` and one anti-join per ``referential``
check.  The audited read is the branch's delete-APPLIED state PINNED
to the head version resolved up front — exactly the snapshot
``publish_if_green`` publishes (VERDICT r18 #1).
"""

from __future__ import annotations

from pyspark.sql import functions as F

_CHECK_KEYS = {
    "not_null": {"kind", "cols", "name"},
    "unique": {"kind", "cols", "name"},
    "expression": {"kind", "sql", "name"},
    "row_count_delta": {"kind", "min", "max", "name"},
    "accepted_values": {"kind", "col", "values", "name"},
    "referential": {
        "kind", "cols", "ref_table", "ref_cols", "ref_branch", "name",
    },
}


class AuditFailed(ValueError):
    """Raised by ``publish_if_green`` when any check fails; carries the
    full audit result on ``.audit``."""

    def __init__(self, msg: str, audit: dict):
        super().__init__(msg)
        self.audit = audit


def _validate_checks(checks: list[dict]) -> None:
    if not isinstance(checks, list) or not checks:
        raise ValueError("checks must be a non-empty list of check dicts")
    for i, c in enumerate(checks):
        kind = c.get("kind") if isinstance(c, dict) else None
        if kind not in _CHECK_KEYS:
            raise ValueError(
                f"check {i}: unknown kind {kind!r} — supported: "
                f"{sorted(_CHECK_KEYS)}"
            )
        unknown = set(c) - _CHECK_KEYS[kind]
        if unknown:
            raise ValueError(
                f"check {i} ({kind}): unknown key(s) {sorted(unknown)} — "
                f"allowed: {sorted(_CHECK_KEYS[kind])}"
            )
        if kind in ("not_null", "unique") and not c.get("cols"):
            raise ValueError(f"check {i} ({kind}): 'cols' is required")
        if kind == "expression" and not c.get("sql"):
            raise ValueError(f"check {i} (expression): 'sql' is required")
        if kind == "row_count_delta" and (
            c.get("min") is None and c.get("max") is None
        ):
            raise ValueError(
                f"check {i} (row_count_delta): at least one of min/max "
                "is required — boundless bounds never fail"
            )
        if kind == "accepted_values":
            if not c.get("col"):
                raise ValueError(
                    f"check {i} (accepted_values): 'col' is required"
                )
            vals = c.get("values")
            if not isinstance(vals, list) or not vals:
                raise ValueError(
                    f"check {i} (accepted_values): 'values' must be a "
                    "non-empty list"
                )
            if any(v is None for v in vals):
                raise ValueError(
                    f"check {i} (accepted_values): None is not an "
                    "accepted value — NULLs are violations by posture; "
                    "drop the check (or the rows) instead"
                )
        if kind == "referential":
            if not c.get("cols"):
                raise ValueError(f"check {i} (referential): 'cols' is required")
            rt = c.get("ref_table")
            if not rt or "." not in str(rt):
                raise ValueError(
                    f"check {i} (referential): 'ref_table' must be "
                    "'schema.table'"
                )
            rc = c.get("ref_cols")
            if rc is not None and len(rc) != len(c["cols"]):
                raise ValueError(
                    f"check {i} (referential): ref_cols must match cols "
                    f"1:1 ({len(c['cols'])} key column(s))"
                )


def audit_table(
    wh, schema: str, table: str, checks: list[dict],
    branch: str = "main",
) -> dict:
    """Run every check against the CURRENT (delete-applied) state of
    ``schema.table`` on ``branch``.  Returns {"passed": bool,
    "version": the audited head version (the WAP pin), "rows": audited
    row count, "checks": [{"name", "kind", "passed", "violations" |
    "delta"}...]} — every check always runs (a failing first check must
    not hide a failing third).

    The read is PINNED to the head version resolved up front
    (``read_snapshot``), so the result describes one specific snapshot
    even if commits race in mid-audit — ``publish_if_green`` publishes
    exactly that version (VERDICT r18 #1)."""
    _validate_checks(checks)
    version = wh.current_version(schema, table, branch)
    if version is None:
        raise ValueError(
            f"table {schema}.{table} has no committed snapshot"
            if branch == "main"
            else f"no branch {branch!r} on {schema}.{table}"
        )
    df = wh.read_snapshot(schema, table, version, branch=branch)
    missing = [
        c
        for ch in checks
        for c in list(ch.get("cols", []))
        + ([ch["col"]] if ch.get("kind") == "accepted_values" else [])
        if c not in df.columns
    ]
    if missing:
        raise ValueError(
            f"check column(s) {missing} not in {schema}.{table}"
        )
    results: list[dict] = []
    # ONE aggregate pass for every row-shaped violation count.  Every
    # SUM is coalesced to 0: over an EMPTY audited state F.sum returns
    # NULL, and an empty staged branch (a fully-failed extract) is
    # exactly the bad-ingest case the gate must report as a structured
    # audit, not a TypeError (ADVICE r18 medium).
    agg_exprs = [F.count(F.lit(1)).alias("__rows")]
    for i, ch in enumerate(checks):
        if ch["kind"] == "not_null":
            for c in ch["cols"]:
                agg_exprs.append(
                    F.coalesce(
                        F.sum(
                            F.when(F.col(c).isNull(), 1).otherwise(0)
                        ),
                        F.lit(0),
                    ).alias(f"__nn_{i}_{c}")
                )
        elif ch["kind"] == "expression":
            # NOT(coalesce(pred, false)): a NULL predicate is a
            # violation — the audit must not pass rows it cannot prove
            agg_exprs.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            ~F.coalesce(F.expr(ch["sql"]), F.lit(False)),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias(f"__ex_{i}")
            )
        elif ch["kind"] == "accepted_values":
            # NULL isin(...) is NULL -> coalesce(false) -> violation:
            # the same unprovable-row posture as expression checks
            agg_exprs.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            ~F.coalesce(
                                F.col(ch["col"]).isin(ch["values"]),
                                F.lit(False),
                            ),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias(f"__av_{i}")
            )
        elif ch["kind"] == "referential":
            # NULL-key census rides the one aggregate pass; only the
            # anti-join itself is a per-check job
            anynull = F.lit(False)
            for c in ch["cols"]:
                anynull = anynull | F.col(c).isNull()
            agg_exprs.append(
                F.coalesce(
                    F.sum(F.when(anynull, 1).otherwise(0)), F.lit(0)
                ).alias(f"__rf_{i}")
            )
    row = df.agg(*agg_exprs).collect()[0]
    n_rows = int(row["__rows"])
    for i, ch in enumerate(checks):
        kind = ch["kind"]
        name = ch.get("name", f"{kind}:{i}")
        if kind == "not_null":
            per_col = {
                c: int(row[f"__nn_{i}_{c}"]) for c in ch["cols"]
            }
            v = sum(per_col.values())
            results.append({
                "name": name, "kind": kind, "violations": v,
                "per_col": per_col, "passed": v == 0,
            })
        elif kind == "expression":
            v = int(row[f"__ex_{i}"])
            results.append({
                "name": name, "kind": kind, "violations": v,
                "passed": v == 0,
            })
        elif kind == "accepted_values":
            v = int(row[f"__av_{i}"])
            results.append({
                "name": name, "kind": kind, "violations": v,
                "passed": v == 0,
            })
        elif kind == "referential":
            rs, rt = str(ch["ref_table"]).split(".", 1)
            ref_cols = list(ch.get("ref_cols") or ch["cols"])
            ref = wh.read(rs, rt, ch.get("ref_branch", "main"))
            ref_missing = [c for c in ref_cols if c not in ref.columns]
            if ref_missing:
                raise ValueError(
                    f"check {name}: ref column(s) {ref_missing} not in "
                    f"{ch['ref_table']}"
                )
            key_t = dict(df.select(*ch["cols"]).dtypes)
            ref_t = dict(ref.select(*ref_cols).dtypes)
            mismatched = [
                (k, r)
                for k, r in zip(ch["cols"], ref_cols)
                if key_t[k] != ref_t[r]
            ]
            if mismatched:
                raise ValueError(
                    f"check {name}: key/ref dtype mismatch {mismatched} "
                    "— implicit join coercion could silently flip the "
                    "verdict; cast one side explicitly first"
                )
            nn = df.select(*ch["cols"]).na.drop(subset=ch["cols"])
            dim = ref.select(
                *[
                    F.col(r).alias(k)
                    for k, r in zip(ch["cols"], ref_cols)
                ]
            )
            # anti-join of non-NULL key tuples vs the dimension; AQE
            # broadcasts a small dim on its own (never forced — r12)
            v = nn.join(dim, on=list(ch["cols"]), how="left_anti").count()
            null_keys = int(row[f"__rf_{i}"])
            results.append({
                "name": name, "kind": kind, "violations": int(v),
                "null_keys": int(null_keys), "passed": v == 0,
            })
        elif kind == "unique":
            dup = (
                df.groupBy(*ch["cols"])
                .count()
                .filter(F.col("count") > 1)
                .agg(
                    F.count(F.lit(1)).alias("keys"),
                    F.coalesce(
                        F.sum(F.col("count") - 1), F.lit(0)
                    ).alias("extra"),
                )
                .collect()[0]
            )
            v = int(dup["extra"])
            results.append({
                "name": name, "kind": kind, "violations": v,
                "duplicate_keys": int(dup["keys"]), "passed": v == 0,
            })
        else:  # row_count_delta
            main_n = (
                wh.count_rows(schema, table)
                if wh.current_version(schema, table) is not None
                else 0
            )
            delta = n_rows - (main_n or 0)
            lo, hi = ch.get("min"), ch.get("max")
            ok = (lo is None or delta >= lo) and (hi is None or delta <= hi)
            results.append({
                "name": name, "kind": kind, "delta": delta,
                "main_rows": main_n, "passed": ok,
            })
    return {
        "passed": all(r["passed"] for r in results),
        "version": version,
        "rows": n_rows,
        "checks": results,
    }


def publish_if_green(
    wh, schema: str, table: str, branch: str, checks: list[dict],
) -> dict:
    """The WAP gate: audit the branch, then publish EXACTLY the audited
    snapshot to main (``merge_branch`` — fast_forward at the fork,
    oldest-first cherry-pick after main moved) ONLY when every check
    passed; a red audit raises ``AuditFailed`` carrying the full result
    and main is untouched.  The audit reads the branch's delete-applied
    state — exactly what publishing makes visible.

    VERSION-PINNED (VERDICT r18 #1, closing the audit→publish race):
    ``audit_table`` resolves the branch head version up front and reads
    that snapshot; the publish passes it as ``merge_branch``'s
    ``expected_head``, which refuses with ``BranchMovedError`` (main
    untouched) when the branch head moved after the audit — Iceberg's
    WAP publishes a specific audited snapshot ID for the same reason.
    Both merge strategies are bounded by the pin, so a commit racing in
    at ANY point between audit and publish is never promoted; catch
    ``BranchMovedError`` and re-gate to pick it up."""
    res = audit_table(wh, schema, table, checks, branch=branch)
    if not res["passed"]:
        bad = [c["name"] for c in res["checks"] if not c["passed"]]
        raise AuditFailed(
            f"audit of {schema}.{table}@{branch} FAILED check(s) "
            f"{bad} — main untouched; fix the branch and re-gate",
            res,
        )
    out = wh.merge_branch(
        schema, table, branch, expected_head=res["version"]
    )
    return {"audit": res, "publish": out}
