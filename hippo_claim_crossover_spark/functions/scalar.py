"""Scalar expression helpers — the reference's field-mapping functions as
pure ``Column`` expressions (no UDFs; everything stays inside whole-stage
codegen).

Each helper cites the reference implementation it re-expresses
(``/root/reference/lib/hippo_claim_crossover.rb:<line>``). Null-semantics
decisions for the Ruby quirks (SURVEY.md §2a B1-B7) are encoded here and
unit-tested in ``tests/test_scalar.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fmt_diagnosis_code(code: Column) -> Column:
    """Insert the ICD decimal point: E-codes after position 4, others after
    position 3; nil-safe pass-through of short codes.

    Reference: ``format_diagnosis_code``, lib/hippo_claim_crossover.rb:167-178
    (regex ``\\AE`` class test + in-place ``insert``; the mutation quirk B4 is
    irrelevant under immutable Columns).

    Pure built-ins ⇒ codegen'd, vectorized, pushdown-friendly.
    """
    head_len = F.when(code.rlike("^E"), F.lit(4)).otherwise(F.lit(3))
    needs_dot = code.isNotNull() & (F.length(code) > head_len)

    def _dot_at(n: int) -> Column:
        return F.concat(
            code.substr(1, n), F.lit("."), code.substr(n + 1, 2147483640)
        )

    return (
        F.when(code.isNull(), F.lit(None).cast("string"))
        .when(~needs_dot, code)
        .when(code.rlike("^E"), _dot_at(4))
        .otherwise(_dot_at(3))
    )


def fmt_postal_code(zipcode: Column) -> Column:
    """9-digit zip → ``XXXXX-XXXX``; otherwise first 5 characters.

    Reference: ``format_postal_code``, lib/hippo_claim_crossover.rb:180-186
    (length test + substring + concat).
    """
    return (
        F.when(
            F.length(zipcode) == 9,
            F.concat(zipcode.substr(1, 5), F.lit("-"), zipcode.substr(6, 4)),
        )
        .otherwise(zipcode.substr(1, 5))
    )


def fmt_person_name(entity_type: Column, last_or_org: Column,
                    first: Column, middle: Column) -> Column:
    """Entity-type '1' (person) → ``Last, First[, M]`` (middle initial only,
    clause dropped when middle is null); anything else → organization name.

    Reference: ``get_name``, lib/hippo_claim_crossover.rb:221-227. Ruby
    appends ``", #{middle[0,1]}"`` only when middle is present; Spark's
    ``concat_ws`` drops nulls, which reproduces that exactly (SURVEY.md X3).
    """
    return (
        F.when(
            entity_type == "1",
            F.concat_ws(", ", last_or_org, first, middle.substr(1, 1)),
        )
        .otherwise(last_or_org)
    )


def join_pointers(*ptrs: Column) -> Column:
    """Concatenate diagnosis pointers, skipping nulls.

    Reference: ``[p1,p2,p3,p4].join`` at lib/hippo_claim_crossover.rb:199 —
    Ruby ``Array#join`` renders nil as "" so ``concat_ws("")`` (drops nulls)
    matches (SURVEY.md X4).
    """
    return F.concat_ws("", *ptrs)


def ruby_to_f(col: Column) -> Column:
    """Ruby ``nil.to_f == 0.0`` parity: cast to double, null → 0.0.

    Reference: ``.to_f`` at lib/hippo_claim_crossover.rb:200,206,209 feeding
    the per-claim SUM; Spark ``sum`` skips nulls but a *projected* field must
    surface 0.0, so encode the coalesce explicitly (SURVEY.md X8).
    """
    return F.coalesce(col.cast("double"), F.lit(0.0))


def ruby_to_i(col: Column) -> Column:
    """Ruby ``nil.to_i == 0`` parity (lib/hippo_claim_crossover.rb:201)."""
    return F.coalesce(col.cast("long"), F.lit(0))


def bool_eq(col: Column, value: str) -> Column:
    """Boolean-equality derivation, null → false.

    Reference: ``accepts_assignment = (code == "A")``
    lib/hippo_claim_crossover.rb:118 — Ruby ``nil == "A"`` is false, whereas
    SQL ``NULL = 'A'`` is NULL, so wrap with coalesce(false).
    """
    return F.coalesce(col == F.lit(value), F.lit(False))


def case_map(col: Column, mapping: dict[str, str], default: str) -> Column:
    """Dictionary CASE (value → label, else default).

    Reference: insurance-type map lib/hippo_claim_crossover.rb:60-66 (C2) and
    relationship map :229-235 (C4). Chained ``when`` keeps it inside codegen;
    for large dictionaries prefer a broadcast-joined code table (J2).
    """
    expr: Column | None = None
    for value, label in mapping.items():
        expr = (F.when(col == value, label) if expr is None
                else expr.when(col == value, label))
    assert expr is not None, "mapping must be non-empty"
    return expr.otherwise(F.lit(default))


def coalesce_pair(*qual_value_pairs: tuple[Column, Column]) -> Column:
    """Priority-coalesce over (qualifier, value) *pairs* as one struct —
    the first pair whose value is non-null wins, keeping qualifier and value
    from the same source.

    Reference: ``get_legacy_qualifier_and_number``,
    lib/hippo_claim_crossover.rb:245-259 (C8): line REF → line PRV('ZZ') →
    parent REF → parent PRV('ZZ'). Two independent ``coalesce`` calls would
    be wrong — they could mix the qualifier of one source with the number of
    another (SURVEY.md C8 note).
    """
    expr: Column | None = None
    for qual, value in qual_value_pairs:
        branch = F.struct(qual.alias("qualifier"), value.alias("number"))
        expr = (F.when(value.isNotNull(), branch) if expr is None
                else expr.when(value.isNotNull(), branch))
    assert expr is not None
    return expr.otherwise(
        F.struct(F.lit(None).cast("string").alias("qualifier"),
                 F.lit(None).cast("string").alias("number")))


def duck_round(col: Column, scale: int) -> Column:
    """Spark expression reproducing DuckDB's ``round(double, s)`` bit-for-bit
    on non-negative inputs: scale the raw double, round half away from zero,
    unscale — ``floor(x*10^s + 0.5) / 10^s``.

    Needed wherever the true value can land exactly halfway at the output
    scale (quotients like ``sum/count``): Spark's own ``round`` reconstructs
    the shortest decimal repr and applies HALF_UP, which rounds ``6.30615``
    up even though the double is ``6.30614999…``, while DuckDB scales the
    raw double and rounds down. Both engines see the same IEEE double, so
    computing DuckDB's formula inside Spark matches it exactly. On negative
    exact halves (cosines) the formula differs from either engine's builtin
    round, so oracles that compare such values spell the same formula.
    """
    p = F.lit(float(10 ** scale))
    return (F.floor(col * p + F.lit(0.5))).cast("double") / p
