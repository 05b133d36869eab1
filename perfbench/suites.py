"""The transcript check suite the benchmark runs, grouped by the pass
family the engine compiles each check into."""

from __future__ import annotations

import gen

KEYS = ("conv_id", "turn_idx")
TEXT_PATTERN = "^(Thought|Action|Observation):|^[a-z]"
CONV_PATTERN = "^c[0-9]{8}$"
SEQUENCE_PATTERN = "^system(,|$)"


def families() -> dict[str, tuple]:
    """Check family -> checks. The families are the engine's passes:
    the fused row pass, the ordered window pass, the group aggregations,
    the reference join and the drift aggregation."""
    from hjsonschema_spark.checks import (
        Bounds, ChiSquareDrift, Contiguous, Enum, FunctionalDependency, GroupAggBounds,
        Length, Monotonic, NotNullIf, Pattern, RefIntegrity, Required, SequencePattern,
        UniqueKey,
    )

    return {
        "row": (
            Required(column="conv_id"),
            Required(column="role"),
            Required(column="ts"),
            Enum(column="role", values=tuple(gen.ROLES)),
            Pattern(column="conv_id", regex=CONV_PATTERN),
            Pattern(column="text", regex=TEXT_PATTERN),
            Bounds(column="turn_idx", min=0, max=100000),
            Length(column="text", min_len=1, max_len=gen.TEXT_MAX_LEN),
            NotNullIf(column="tool", when_column="role", equals="tool_use", only=True),
        ),
        "ordered": (
            UniqueKey(columns=KEYS),
            Contiguous(order_column="turn_idx", group_by=("conv_id",)),
            Monotonic(column="ts", group_by=("conv_id",), order_by=("turn_idx",)),
        ),
        "group": (
            SequencePattern(column="role", group_by=("conv_id",), order_by=("turn_idx",),
                            regex=SEQUENCE_PATTERN),
            GroupAggBounds(column="tokens", agg="sum", group_by=("conv_id",),
                           max=gen.TOKENS_MAX_PER_CONV),
            FunctionalDependency(determinant=("conv_id",), dependent=("model",)),
        ),
        "ref_join": (RefIntegrity(columns=("tool",), ref_name="tools"),),
        "drift": (ChiSquareDrift(column="role", ref_name="role_ref"),),
    }


def transcript_suite(only: str | None = None):
    """The full suite, or the checks of one family."""
    from hjsonschema_spark.checks import CheckSuite

    fams = families()
    checks = fams[only] if only else tuple(c for f in fams.values() for c in f)
    return CheckSuite(name=f"bench_transcripts_{only or 'full'}", key_columns=KEYS, checks=checks)
