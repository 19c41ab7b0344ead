"""Column mapping for the versioned upsert table format — O(1)
``ALTER TABLE RENAME COLUMN`` / ``DROP COLUMN`` without rewriting a
byte of data, Delta's columnMapping feature re-expressed on the mini
format.

The mapping is the ``column_mapping`` field of the metadata document
every journal entry carries (``ingest.table_metadata`` — the same
document as constraints and partitioning), and a rename or drop is a
metadata commit serialized with the data commits:

    {"renames": {"logical_name": "physical_name", ...},
     "dropped": ["physical_name", ...]}

Physical names are what the parquet files carry; logical names are
what every reader and writer of the TABLE sees. A rename is one
metadata flip (the physical name stays frozen in the files); a drop
hides the physical column from readers — the bytes linger until a
full-rewrite OPTIMIZE reclaims them, exactly Delta's "DROP COLUMN is
metadata-only; run REORG/OPTIMIZE to rewrite" contract.

Read path: the typed snapshot reader projects physical → logical and
hides dropped columns (``to_logical``). Write path: staged snapshots
map logical → physical just before the parquet write
(``to_physical``), so the on-disk schema stays physically stable
across renames — which is what keeps hard-link file carries valid
(a linked file can never be rewritten to a new column name).

Like Delta with columnMapping enabled, a renamed/dropped table's raw
parquet is no longer faithfully readable by naive external readers
(they see physical names); the format's own readers are the contract.

Documented divergence from Delta: although every journal entry carries
the metadata document as of that commit, reads apply the HEAD's
document (mapping, constraints, partitioning) — a time-travel read of
a PRE-rename version shows the CURRENT logical names (physical names
are frozen, so the data is identical either way), where Delta would
replay the schema as of that version. The same rule already applies to
CHECK constraints here (RESTORE validates against the CURRENT set).

Restrictions (all refused loudly, mirroring Delta's):
- renaming/dropping a column referenced by a CHECK constraint, a
  generated column (as target or input), the identity column, or the
  PARTITIONED BY spec;
- renaming onto an existing logical name;
- reusing a dropped column's PHYSICAL name for a new logical column
  (files still carry those bytes — reuse would resurrect stale data;
  Delta sidesteps this with column IDs, this format refuses instead).
"""

from __future__ import annotations


def _mapping_of(meta: dict) -> dict:
    """{"renames": {logical: physical}, "dropped": [physical, ...]} of
    a metadata document — empty structures when it has no mapping."""
    m = meta.get("column_mapping", {})
    return {"renames": dict(m.get("renames", {})),
            "dropped": list(m.get("dropped", []))}


def table_column_mapping(target_dir: str) -> dict:
    """The table's column mapping (``_mapping_of``) — a view of the
    journal head's metadata document."""
    from .ingest import table_metadata
    return _mapping_of(table_metadata(target_dir))


def _has_mapping(m: dict) -> bool:
    return bool(m["renames"] or m["dropped"])


def to_logical(df, m: dict):
    """Project a physically-named frame to the table's logical schema:
    hide dropped physical columns, alias physical → logical. Columns
    absent from the mapping pass through (logical == physical)."""
    if not _has_mapping(m):
        return df
    from pyspark.sql import functions as F

    phys_to_log = {p: lg for lg, p in m["renames"].items()}
    dropped = set(m["dropped"])
    cols = []
    for c in df.columns:
        if c in dropped:
            continue
        cols.append(F.col(f"`{c}`").alias(phys_to_log.get(c, c)))
    return df.select(*cols)


def to_physical(df, m: dict):
    """Map a logically-named frame back to physical names for a staged
    write. Refuses a frame that tries to (re)introduce a dropped
    physical name — the files still carry those bytes and a reuse
    would resurrect them under the new column."""
    if not _has_mapping(m):
        return df
    from pyspark.sql import functions as F

    renames = m["renames"]
    clash = sorted(set(df.columns) & set(m["dropped"]))
    if clash:
        raise ValueError(
            f"column name(s) {clash} were DROPPED from this table and "
            f"their physical names still exist in retained files — "
            f"pick different names (physical-name reuse would "
            f"resurrect stale data)")
    # A renamed column's PHYSICAL name is just as reserved as a dropped
    # one: after RENAME a->b (renames {b: a}), a new logical column
    # literally named 'a' would alias onto physical 'a' alongside b's
    # mapping — two logical columns sharing one physical column. Only
    # an UNMAPPED column can alias this way: a column that is itself a
    # mapping key writes to its own target (legal after rename chains
    # like a->b then c->a, where logical 'a' maps to physical 'c').
    in_use_phys = {p for lg, p in renames.items() if lg != p}
    phys_clash = sorted(
        c for c in df.columns if c in in_use_phys and c not in renames)
    if phys_clash:
        raise ValueError(
            f"column name(s) {phys_clash} are the in-use PHYSICAL names "
            f"of renamed columns of this table — pick different names "
            f"(reuse would alias two logical columns onto one physical "
            f"column)")
    return df.select(*[
        F.col(f"`{c}`").alias(renames.get(c, c)) for c in df.columns])


def _referenced_anywhere(meta: dict, logical: str) -> str | None:
    """Why this column cannot be renamed/dropped, or None if free.
    Checks the same metadata surfaces Delta's ALTER TABLE guards do."""
    if logical in meta.get("partitioning", {}):
        return "it is a PARTITIONED BY column (partition directories " \
               "carry its name)"
    ident = meta.get("identity")
    if ident and ident["name"] == logical:
        return "it is the GENERATED ALWAYS AS IDENTITY column"
    for name, expr in meta.get("constraints", {}).items():
        if isinstance(expr, dict):          # typed entry (NOT NULL)
            if expr.get("col") == logical:
                return f"NOT NULL constraint {name!r} references it"
            continue
        if _expr_references(expr, logical):
            return f"CHECK constraint {name!r} ({expr}) references it"
    for name, expr in meta.get("generated", {}).items():
        if name == logical:
            return f"it is generated column {name!r}"
        if _expr_references(expr, logical):
            return f"generated column {name!r} (ALWAYS AS {expr}) " \
                   f"references it"
    return None


def _expr_references(expr: str, col: str) -> bool:
    """Whether a stored SQL expression references ``col`` — resolved
    through Spark's parser (identifier-aware), not substring matching."""
    from pyspark.sql import functions as F

    try:
        refs = {str(r) for r in
                F.expr(expr)._jc.expr().references().toList().toArray()}
    except Exception:
        # no JVM handy / unparseable: be conservative
        return col in expr
    names = {r.split("#")[0].strip("'") for r in refs}
    return col in names


def _alter_column(spark, target_dir: str, name: str, verb: str,
                  change) -> None:
    """The shared ALTER TABLE RENAME/DROP COLUMN commit: validates
    ``name`` against the attempt's head (its logical columns and its
    metadata references) while ``change(m, cols)`` edits the mapping
    ``m`` — one metadata commit, zero data movement."""
    from .ingest import _commit_metadata, _head_dir, _snapshot_read
    from .partitioning import _add_feature

    def declare(commits, meta):
        cols = _snapshot_read(spark, meta,
                              _head_dir(target_dir, commits)).columns
        if name not in cols:
            raise ValueError(
                f"cannot {verb} {name!r}: not a column of this table "
                f"(columns: {cols})")
        m = _mapping_of(meta)
        change(m, cols)
        why = _referenced_anywhere(meta, name)
        if why:
            raise ValueError(
                f"cannot {verb} column {name!r}: {why} — drop/redeclare "
                f"that first (Delta refuses the same way)")
        meta["column_mapping"] = m
        _add_feature(meta, "column_mapping")

    _commit_metadata(target_dir, declare)


def rename_table_column(spark, target_dir: str, old: str,
                        new: str) -> None:
    """ALTER TABLE RENAME COLUMN old TO new — one metadata commit, zero
    data movement at any table size. The physical name in the files
    stays frozen (that is what keeps every retained snapshot's
    hard-linked files valid); readers and writers see ``new`` from the
    next operation on."""
    def change(m, cols):
        if new in cols:
            raise ValueError(
                f"cannot rename {old!r} to {new!r}: the target name "
                f"already exists")
        # physical name of `old` = its current mapping target, else itself
        phys = m["renames"].pop(old, old)
        if phys in m["dropped"]:
            raise ValueError(
                f"physical column {phys!r} was dropped — cannot rename "
                f"onto it")
        if new != phys:
            m["renames"][new] = phys

    _alter_column(spark, target_dir, old, "rename", change)


def drop_table_column(spark, target_dir: str, name: str) -> None:
    """ALTER TABLE DROP COLUMN — metadata-only: the physical column is
    hidden from every reader; its bytes linger in retained snapshots
    until a full-rewrite OPTIMIZE reclaims them (Delta's REORG
    contract). Refused for key-metadata columns (partitioning,
    identity, constraint/generated references) and for the table's
    last column."""
    def change(m, cols):
        if len(cols) <= 1:
            raise ValueError("cannot drop the table's last column")
        m["dropped"].append(m["renames"].pop(name, name))

    _alter_column(spark, target_dir, name, "drop", change)
