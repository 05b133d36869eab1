"""Deterministic synthetic transcripts generator (FIXTURES.md §A).

Schema (authoritative, BASELINE.json ``input_hint``):
    (conv_id: string, turn_idx: int, role: string, text: string,
     tool: string nullable, ts: timestamp)

Design for 10^12-turn scale: the generator is ``spark.range(n_convs)``
plus pure column expressions — every field is a deterministic function
of ``(seed, conv_id, turn_idx)`` via xxhash64, so generation is
embarrassingly parallel, reproducible at any partitioning, and never
materializes data on the driver. Conversation lengths are Zipfian
(s≈1.2, clamped to [1, max_turns]) to exercise skew handling.

Violation-injection knobs (all off by default) deterministically select
rows by hash, so tests know the exact expected violation set — this is
the known-answer oracle described in FIXTURES.md.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ROLE_VOCAB = ["system", "user", "assistant", "tool_use", "tool_result"]
TOOL_VOCAB = [f"tool_{i:02d}" for i in range(32)]

_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "query", "answer",
    "check", "result", "table", "schema", "value", "tokens", "spark",
]

_BASE_TS = "2026-01-01 00:00:00"


def _u(seed: int, *cols: Column | str, salt: str = "") -> Column:
    """Deterministic uniform in [0, 1) from (seed, salt, cols)."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), *cols)
    return (F.pmod(h, F.lit(1_000_000_007)).cast("double")) / 1_000_000_007.0


@dataclass
class TranscriptGen:
    """Seeded generator with violation knobs.

    Each ``*_rate`` knob independently marks rows (selected by a
    dedicated hash channel) and mutates them; ``violation_rows(kind)``
    returns the exact keys that were corrupted so tests can assert the
    engine finds precisely those.
    """

    n_convs: int = 100
    seed: int = 42
    max_turns: int = 500
    zipf_s: float = 1.2
    # violation knobs
    dup_rate: float = 0.0
    null_role_rate: float = 0.0
    null_text_rate: float = 0.0
    bad_role_rate: float = 0.0
    bad_tool_rate: float = 0.0
    gap_rate: float = 0.0
    ts_regress_rate: float = 0.0
    long_text_rate: float = 0.0
    drift: bool = False  # shifted length distribution + perturbed roles
    n_partitions: int | None = None
    _words: list[str] = field(default_factory=lambda: list(_WORDS), repr=False)

    # -- clean-data construction -------------------------------------

    def _conv_len(self, conv_n: Column) -> Column:
        # Inverse-transform Zipf-ish: len = ceil(u^(-1/s)), clamped.
        u = _u(self.seed, conv_n, salt="len") + 1e-12
        raw = F.ceil(F.pow(u, F.lit(-1.0 / self.zipf_s)))
        ln = F.least(F.lit(self.max_turns), F.greatest(F.lit(1), raw))
        return ln.cast("int")

    def _role(self, conv_n: Column, turn: Column) -> Column:
        # turn 0 = system; afterwards a deterministic user/assistant
        # alternation with occasional tool_use -> tool_result bursts.
        u = _u(self.seed, conv_n, turn, salt="role")
        tool_cut = 0.30 if self.drift else 0.15  # drift perturbs histogram
        alt = F.when(turn % 2 == 1, F.lit("user")).otherwise(
            F.when(u < tool_cut, F.lit("tool_use")).otherwise(F.lit("assistant"))
        )
        role = F.when(turn == 0, F.lit("system")).otherwise(alt)
        # a tool_use at turn t makes turn t+1 a tool_result when t+1 is
        # even-slot assistant — recompute predecessor deterministically
        prev_u = _u(self.seed, conv_n, turn - 1, salt="role")
        prev_was_tool = (turn - 1 > 0) & ((turn - 1) % 2 == 0) & (prev_u < tool_cut)
        return F.when((turn > 1) & (turn % 2 == 1) & prev_was_tool, F.lit("tool_result")).otherwise(role)

    def _text(self, conv_n: Column, turn: Column) -> Column:
        # Log-normal-ish word count: exp(N(mu, sigma)) approximated by
        # exp(mu + sigma*(sum of uniforms - 1.5)) — deterministic, cheap.
        mu, sigma = (2.2, 1.0) if not self.drift else (3.0, 1.0)
        z = (
            _u(self.seed, conv_n, turn, salt="t1")
            + _u(self.seed, conv_n, turn, salt="t2")
            + _u(self.seed, conv_n, turn, salt="t3")
            - 1.5
        ) * 2.0  # approx N(0,1)*~1.7
        n_words = F.least(
            F.lit(600), F.greatest(F.lit(1), F.ceil(F.exp(F.lit(mu) + F.lit(sigma) * z)))
        ).cast("int")
        words = F.array(*[F.lit(w) for w in self._words])
        body = F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), n_words),
                lambda i: F.element_at(
                    words, (F.pmod(F.xxhash64(F.lit(self.seed), conv_n, turn, i), F.lit(len(self._words))) + 1).cast("int")
                ),
            ),
        )
        # ~10% of rows carry an agent-trace prefix for regex checks
        pu = _u(self.seed, conv_n, turn, salt="prefix")
        prefix = (
            F.when(pu < 0.033, F.lit("Thought: "))
            .when(pu < 0.066, F.lit("Action: "))
            .when(pu < 0.10, F.lit("Observation: "))
            .otherwise(F.lit(""))
        )
        return F.concat(prefix, body)

    def clean(self, spark: SparkSession) -> DataFrame:
        """The clean table — no violations, invariants all hold."""
        n_part = self.n_partitions or max(32, spark.sparkContext.defaultParallelism)
        convs = spark.range(0, self.n_convs, 1, n_part).withColumnRenamed("id", "conv_n")
        convs = convs.withColumn("n_turns", self._conv_len(F.col("conv_n")))
        turns = convs.select(
            "conv_n",
            F.posexplode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx", "_t"),
        ).drop("_t")
        c, t = F.col("conv_n"), F.col("turn_idx")
        # ts: per-conv base offset + 60s per turn + jitter<60s => strictly
        # increasing within a conversation.
        conv_off = F.pmod(F.xxhash64(F.lit(self.seed), c, F.lit("off")), F.lit(86400 * 30))
        jitter = F.pmod(F.xxhash64(F.lit(self.seed), c, t, F.lit("jit")), F.lit(60))
        ts = F.to_timestamp(F.lit(_BASE_TS)) + F.make_interval(secs=(conv_off + t * 60 + jitter).cast("double"))
        role = self._role(c, t)
        tools = F.array(*[F.lit(x) for x in TOOL_VOCAB])
        tool = F.when(
            role == "tool_use",
            F.element_at(tools, (F.pmod(F.xxhash64(F.lit(self.seed), c, t, F.lit("tool")), F.lit(len(TOOL_VOCAB))) + 1).cast("int")),
        )
        return turns.select(
            F.format_string("c%08d", c).alias("conv_id"),
            t.cast("int").alias("turn_idx"),
            role.alias("role"),
            self._text(c, t).alias("text"),
            tool.alias("tool"),
            ts.alias("ts"),
        )

    # -- violation injection ------------------------------------------

    def _mark(self, df: DataFrame, rate: float, channel: str) -> Column:
        return _u(self.seed, F.col("conv_id"), F.col("turn_idx"), salt=channel) < rate

    def df(self, spark: SparkSession) -> DataFrame:
        """Clean table with all enabled violation knobs applied."""
        df = self.clean(spark)
        if self.gap_rate:
            # drop interior turns (never turn 0) => contiguity gaps
            df = df.filter(~(self._mark(df, self.gap_rate, "gap") & (F.col("turn_idx") > 0)))
        if self.null_role_rate:
            df = df.withColumn(
                "role", F.when(self._mark(df, self.null_role_rate, "nrole"), F.lit(None)).otherwise(F.col("role"))
            )
        if self.null_text_rate:
            df = df.withColumn(
                "text", F.when(self._mark(df, self.null_text_rate, "ntext"), F.lit(None)).otherwise(F.col("text"))
            )
        if self.bad_role_rate:
            df = df.withColumn(
                "role", F.when(self._mark(df, self.bad_role_rate, "brole"), F.lit("robot")).otherwise(F.col("role"))
            )
        if self.bad_tool_rate:
            df = df.withColumn(
                "tool",
                F.when(
                    self._mark(df, self.bad_tool_rate, "btool") & F.col("tool").isNotNull(), F.lit("not_a_tool")
                ).otherwise(F.col("tool")),
            )
        if self.ts_regress_rate:
            df = df.withColumn(
                "ts",
                F.when(
                    self._mark(df, self.ts_regress_rate, "tsreg") & (F.col("turn_idx") > 0),
                    F.col("ts") - F.make_interval(hours=F.lit(48)),
                ).otherwise(F.col("ts")),
            )
        if self.long_text_rate:
            df = df.withColumn(
                "text",
                F.when(self._mark(df, self.long_text_rate, "long"), F.concat(F.col("text"), F.lit("x" * 4500))).otherwise(
                    F.col("text")
                ),
            )
        if self.dup_rate:
            dups = df.filter(self._mark(df, self.dup_rate, "dup"))
            df = df.unionAll(dups)
        return df


def role_vocab_df(spark: SparkSession) -> DataFrame:
    from hjsonschema_spark.session import cached_local_df

    return cached_local_df(spark, tuple((r,) for r in ROLE_VOCAB), "role string")


def tool_vocab_df(spark: SparkSession) -> DataFrame:
    from hjsonschema_spark.session import cached_local_df

    return cached_local_df(spark, tuple((t,) for t in TOOL_VOCAB), "tool string")
