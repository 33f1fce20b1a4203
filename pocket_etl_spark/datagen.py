"""Deterministic, distributed synthetic CDC data generator.

Generates the `change_events` WAL tail and (optionally) a seed `repo_files` table per
FIXTURES.md §1, entirely as Spark column expressions over ``spark.range`` — no driver
loops, no Python UDFs — so the same generator scales from the 10k-event pytest fixture
to the multi-million-event bench input (and would scale to 10^10 on a cluster: it is
embarrassingly parallel and seeded, so any executor can produce any slice).

Determinism: every column is a pure function of (lsn, seed) via sha2/xxhash64, so two
runs — or two cluster sizes — produce byte-identical data.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pocket_etl_spark.schema import OP_RANK

LANGS = ["py", "java", "ts", "go", "rs", "md"]


def _hslot(col, seed: int, salt: str, mod: int):
    """Deterministic pseudo-random slot in [0, mod) from a column + seed."""
    return F.pmod(F.xxhash64(F.lit(f"{salt}:{seed}"), col), F.lit(mod))


def gen_change_events(
    spark: SparkSession,
    n_events: int,
    n_keys: int = 1000,
    seed: int = 42,
    hot_key_fraction: float = 0.0,
    insert_pct: int = 20,
    update_pct: int = 70,
    content_repeat: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """Build the CDC event log: (lsn, op, repo, path, commit, lang, content, ts, extras).

    - ``lsn`` is strictly increasing and unique (1..n_events) → LWW is deterministic.
    - ``hot_key_fraction`` routes that share of events to key 0 (one hot repo/path),
      the skew fixture from SURVEY.md §5.
    - op mix: insert/update/delete ≈ insert_pct/update_pct/rest.
    - ``content`` is deterministic pseudo-source, ~64*content_repeat bytes; null on D.
    """
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    df = spark.range(1, n_events + 1, numPartitions=partitions).withColumnRenamed("id", "lsn")

    hot_cut = int(hot_key_fraction * 10_000)
    key_idx = F.when(
        _hslot(F.col("lsn"), seed, "hot", 10_000) < F.lit(hot_cut), F.lit(0)
    ).otherwise(_hslot(F.col("lsn"), seed, "key", n_keys))

    op_slot = _hslot(F.col("lsn"), seed, "op", 100)
    op = (
        F.when(op_slot < F.lit(insert_pct), F.lit("I"))
        .when(op_slot < F.lit(insert_pct + update_pct), F.lit("U"))
        .otherwise(F.lit("D"))
    )

    n_repos = max(1, n_keys // 20)  # ~20 files per repo
    repo = F.format_string("org/repo-%05d", F.pmod(key_idx, F.lit(n_repos)).cast("int"))
    lang_idx = F.pmod(key_idx, F.lit(len(LANGS))).cast("int")
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), lang_idx + 1)
    path = F.format_string(
        "src/module_%d/file_%05d.%s",
        F.pmod(key_idx, F.lit(7)).cast("int"),
        key_idx.cast("int"),
        lang,
    )

    commit = F.substring(F.sha2(F.concat_ws("|", F.lit(seed), F.col("lsn"), F.lit("c")), 256), 1, 40)
    body = F.sha2(F.concat_ws("|", F.lit(seed), repo, path, F.col("lsn")), 256)
    content = F.concat(
        F.format_string("// %s:%s @ lsn=%d\n", repo, path, F.col("lsn")),
        F.concat_ws("\n", F.array_repeat(body, content_repeat)),
    )

    return df.select(
        F.col("lsn"),
        op.alias("op"),
        repo.alias("repo"),
        path.alias("path"),
        F.when(op != "D", commit).alias("commit"),
        F.when(op != "D", lang).alias("lang"),
        F.when(op != "D", content).alias("content"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("lsn"))).alias("ts"),
        F.create_map(F.lit("gen_seed"), F.lit(str(seed))).alias("extras"),
    )


def with_schema_evolution(events: DataFrame, from_lsn: int, key: str = "new_col_score") -> DataFrame:
    """Inject schema-evolution events: from ``from_lsn`` on, extras carries a new
    tunnel field to be promoted to a real column (FIXTURES.md §1.2)."""
    return events.withColumn(
        "extras",
        F.when(
            F.col("lsn") >= from_lsn,
            F.map_concat(
                "extras",
                F.create_map(F.lit(key), F.pmod(F.xxhash64("lsn"), F.lit(1000)).cast("string")),
            ),
        ).otherwise(F.col("extras")),
    )


def with_duplicates_and_ties(events: DataFrame) -> DataFrame:
    """Add the two same-LSN collisions the LWW rule must resolve:

    - same-LSN op ties: at every lsn divisible by 11 the key also gets the two
      other ops (all of I, U, D at one LSN → D wins); at lsn divisible by 13
      (and not 11) an I/U event gets its I/U counterpart (→ U wins). Tie rows
      carry their own content, so a wrong winner shows in the result;
    - exact duplicates (at-least-once redelivery): every row at lsn divisible
      by 7, tie rows included, appears twice."""

    def as_op(df: DataFrame, op) -> DataFrame:
        tie = df.withColumn("op", op).withColumn("content", F.concat(F.lit("tie-"), "op"))
        for c in ("commit", "lang", "content"):  # null on D, as in the log
            tie = tie.withColumn(c, F.when(F.col("op") != "D", F.col(c)))
        return tie.select(*events.columns)

    ops = events.sparkSession.createDataFrame([("I",), ("U",), ("D",)], "_tie_op string")
    triples = as_op(
        events.filter("lsn % 11 = 0").crossJoin(ops).filter("_tie_op <> op"), F.col("_tie_op")
    )
    pairs = as_op(
        events.filter("lsn % 13 = 0 AND lsn % 11 <> 0 AND op <> 'D'"),
        F.when(F.col("op") == "I", "U").otherwise("I"),
    )
    tied = events.unionByName(triples).unionByName(pairs)
    return tied.unionByName(tied.filter("lsn % 7 = 0"))


def oracle_apply_pandas(events_pdf: pd.DataFrame, initial: pd.DataFrame | None = None) -> pd.DataFrame:
    """Naive single-pass LWW oracle: apply events in LSN order onto a dict keyed by
    (repo, path). Ground truth for replay-equivalence tests (SURVEY.md §5) — mirrors
    the reference's upsert truth table (RedshiftLoadStrategy.java:21-75).
    """
    state: dict[tuple[str, str], dict] = {}
    if initial is not None:
        for row in initial.to_dict("records"):
            state[(row["repo"], row["path"])] = dict(row)
    ordered = events_pdf.sort_values(
        ["lsn", "op"], key=lambda s: s.map(OP_RANK) if s.name == "op" else s
    )
    for row in ordered.to_dict("records"):
        k = (row["repo"], row["path"])
        prev = state.get(k)
        if prev is not None and row["lsn"] < prev["lsn"]:
            continue
        if row["op"] == "D":
            state.pop(k, None)
        else:
            state[k] = {
                "repo": row["repo"],
                "path": row["path"],
                "commit": row["commit"],
                "lang": row["lang"],
                "content": row["content"],
                "lsn": row["lsn"],
            }
    out = pd.DataFrame(list(state.values()), columns=["repo", "path", "commit", "lang", "content", "lsn"])
    return out.sort_values(["repo", "path"]).reset_index(drop=True)


def content_sha256(pdf: pd.DataFrame) -> pd.Series:
    """Per-row sha256(content) — the BASELINE.json correctness invariant."""
    return pdf["content"].map(
        lambda c: hashlib.sha256(c.encode()).hexdigest() if isinstance(c, str) else None
    )
