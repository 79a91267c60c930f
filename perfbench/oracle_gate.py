"""Untimed check of a run's final table state against the golden replayer.

Content is hashed on both sides before it reaches pandas: the oracle replays
events whose ``content`` is ``sha2(content, 256)`` of the generated text, and
the engine's table is read back the same way. The per-key comparison then
runs ``table_digest_pdf`` over both (a digest of the content digest), so a
megabyte-scale log never has to be held in pandas, while any row the engine
gets wrong still differs.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from embulk_filter_copy_spark.fixtures import replay_oracle, table_digest_pdf
from embulk_filter_copy_spark.lake.table import LakeTable

ORACLE_COLUMNS = ["lsn", "op", "repo", "path", "commit", "lang", "content", "schema_change"]
KEY_ORDER = ["repo", "path"]
_MISSING = object()


def hashed_frames(spark, inputs) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(base, events) as pandas with ``content`` replaced by its sha256."""
    base = spark.read.parquet(inputs.base)
    base = base.select(
        "repo", "path", "commit", "lang", F.sha2("content", 256).alias("content")
    ).toPandas()
    ev = spark.read.parquet(inputs.events).withColumn("content", F.sha2("content", 256))
    return base, ev.select(*ORACLE_COLUMNS).toPandas()


class Oracle:
    """The golden final state for one run's inputs."""

    def __init__(self, base_pdf: pd.DataFrame, events_pdf: pd.DataFrame):
        self.state = replay_oracle(base_pdf, events_pdf)
        self.digest = table_digest_pdf(self.state)
        self.by_key = {
            (r.repo, r.path): r.content for r in self.state.itertuples(index=False)
        }

    def corrupt_one_row(self) -> None:
        """Flip one expected digest row (the gate's self-test)."""
        self.digest.loc[0, "content_sha"] = "0" * 64


def _table_digest(spark, path: str) -> pd.DataFrame:
    df = LakeTable.load(spark, path).read()
    pdf = df.select("repo", "path", F.sha2("content", 256).alias("content")).toPandas()
    return table_digest_pdf(pdf)


def _frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    got = got.reset_index(drop=True)
    want = want.reset_index(drop=True)
    diff = ~(got.fillna("<null>") == want.fillna("<null>")).all(axis=1)
    if diff.any():
        i = int(diff.idxmax())
        return f"{int(diff.sum())} rows differ, first {got.iloc[i].to_dict()} != {want.iloc[i].to_dict()}"
    return None


def check_tables(spark, oracle: Oracle, tables: dict) -> list[str]:
    """Mismatches of every table of one pass against the oracle (empty =
    pass). ``full``/``main`` must equal the oracle digest; ``slim`` must hold
    the oracle's key set and no ``content`` column; ``hashed.content_sha``
    must be sha256 of the oracle content."""
    problems = []
    for name, path in tables.items():
        if name in ("main", "full"):
            err = _frames_differ(_table_digest(spark, path), oracle.digest)
        elif name == "slim":
            df = LakeTable.load(spark, path).read()
            err = "slim table has a content column" if "content" in df.columns else None
            if err is None:
                got = df.select("repo", "path").toPandas()
                err = _frames_differ(
                    got.sort_values(KEY_ORDER, kind="stable"),
                    oracle.digest[KEY_ORDER].sort_values(KEY_ORDER, kind="stable"),
                )
        elif name == "hashed":
            got = LakeTable.load(spark, path).read().select("repo", "path", "content_sha").toPandas()
            want = oracle.state[["repo", "path", "content"]].rename(columns={"content": "content_sha"})
            err = _frames_differ(
                got.sort_values(KEY_ORDER, kind="stable"),
                want.sort_values(KEY_ORDER, kind="stable"),
            )
        else:
            raise ValueError(f"no oracle rule for table {name!r}")
        if err:
            problems.append(f"{name}: {err}")
    return problems


def check_lookups(oracle: Oracle, final_lookups: list[tuple]) -> list[str]:
    """Each lookup made against the final state returns exactly the oracle's
    row for its key, or nothing for a deleted or unknown key."""
    problems = []
    for key, rows in final_lookups:
        want = oracle.by_key.get(key, _MISSING)
        if want is _MISSING:
            ok = rows == []
        else:
            got = [
                None if r.get("content") is None
                else hashlib.sha256(r["content"].encode()).hexdigest()
                for r in rows
            ]
            ok = got == [None if pd.isna(want) else want]
        if not ok:
            problems.append(f"lookup {key}: {len(rows)} rows, oracle {'absent' if want is _MISSING else 'present'}")
    return problems

