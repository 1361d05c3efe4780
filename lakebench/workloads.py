"""The three closed-loop workloads. Each is one client issuing one op at
a time; a pass is a fixed sequence of ops, and the runner repeats passes.

An op is a timed callable plus an off-the-clock check of its output.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

from lakebench import check, gen, stats


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    run: Callable[[Any], Any]  # takes the tracer, returns the output
    check: Callable[[Any], bool]  # off the clock
    layer: str = ""  # table-format layer for per-layer sums, e.g. "delta.commit"
    fmt: str = ""  # table format whose files the op writes


def collect_query(fn, spark, data_dir: str, tracer):
    """Driver build, planning and execution of one registry query."""
    with tracer.time("queries.build_s"):
        df = fn(spark, data_dir)
    tracer.plan(df)
    return df.columns, df.collect()


class RegistryWorkload:
    """A fixed cyclic list of registry queries over a generated corpus."""

    name = ""
    queries: tuple[str, ...] = ()
    n_docs = 500
    n_vecs = 500
    warmup_passes = 1

    def __init__(self, work_dir: str, seed: int):
        self.work_dir, self.seed = work_dir, seed
        self.data_dir = os.path.join(work_dir, "corpus")

    def generate(self) -> dict:
        return {"tables": gen.write_corpus(self.data_dir, self.seed, self.n_docs, self.n_vecs)}

    def setup(self, spark) -> None:
        from projectdatalake_spark import queries as Q

        self.spark = spark
        self.registry, self.oracles = Q.QUERIES, Q.ORACLES
        self.oracle = check.Oracle(self.data_dir)

    def _check(self, name: str) -> Callable[[Any], bool]:
        sql = self.oracles[name]

        def ok(out) -> bool:
            cols, rows = out
            return check.result(cols, rows) == self.oracle.expected(sql)

        return ok

    def ops(self, pass_no: int) -> Iterator[Op]:
        for name in self.queries:
            fn = self.registry[name]
            yield Op(
                name,
                "read",
                lambda tracer, fn=fn: collect_query(fn, self.spark, self.data_dir, tracer),
                self._check(name),
            )

    def end_pass(self, pass_no: int) -> dict:
        return {}

    def close(self) -> None:
        self.oracle.close()


class QueryMix(RegistryWorkload):
    """Interactive analyst queries: relational, window, as-of and text;
    every one has a DuckDB oracle and none runs a Python UDF."""

    name = "query_mix"
    queries = (
        "q1_pricing_summary",
        "tpch_q3_shipping",
        "multi_join_snowflake",
        "agg_cube",
        "win_topk_per_group",
        "sessionize_events",
        "text_quality",
        "asof_join_events_orders",
        "agg_rollup",
        "tpch_q10_returned",
        "time_parts",
        "json_extract_props",
    )
    # the cold pass and the next, which still does about 1.2 times the
    # work CPU (JIT compilation apart) of the passes after it
    warmup_passes = 2


# Approximate-search ops are checked by recall@10 against the exact
# top-10 of the brute-force oracle (same 5 queries, vec_id < 5).
RECALL_FLOOR = 0.8


class CorpusBatch(RegistryWorkload):
    """LLM-data curation: near-dup detection, similarity search and text
    quality over a documents and embeddings corpus. Three ops run Python
    workers (pandas/Arrow UDFs)."""

    name = "corpus_batch"
    queries = (
        "dedup_minhash_seeded",
        "text_simhash_seeded",
        "ann_topk_pq",
        "ann_mmr_rerank",
        "arrow_embed_features",
        "ann_topk_bruteforce",
        "ann_topk_lsh_seeded",
        "ann_topk_ivf_seeded",
        "neardup_cosine_pairs",
        "text_quality",
    )
    n_docs = 1000
    n_vecs = 1000
    warmup_passes = 1

    def _check(self, name: str) -> Callable[[Any], bool]:
        if name in self.oracles:
            return super()._check(name)
        cols, exact_rows = self.oracle.rows(self.oracles["ann_topk_bruteforce"])
        qi, ni, ri = (cols.index(c) for c in ("query_id", "neighbor_id", "rank"))
        exact = {(r[qi], r[ni]) for r in exact_rows}
        nearest = {(r[qi], r[ni]) for r in exact_rows if r[ri] == 1}
        queries = {q for q, _ in exact}

        def ok(out) -> bool:
            cols, rows = out
            q, n = cols.index("query_id"), cols.index("neighbor_id")
            got = {(r[q], r[n]) for r in rows}
            # exactly k distinct neighbours per query, none the query itself
            if len(got) != len(rows) or len(rows) != len(exact):
                return False
            if {a for a, _ in got} != queries or any(a == b for a, b in got):
                return False
            if "mmr_rank" in cols:
                # MMR trades relevance for diversity after its first pick,
                # which is always the exact nearest neighbour
                m = cols.index("mmr_rank")
                return {(r[q], r[n]) for r in rows if r[m] == 1} == nearest
            return len(got & exact) / len(exact) >= RECALL_FLOOR

        return ok


# --- lake_ingest -----------------------------------------------------------

RETAIN_DAYS = 2
MAX_PASSES = 48
SONGPLAY_COLS = (
    "songplay_id", "start_time", "user_id", "level", "song_id", "artist_id",
    "session_id", "location", "user_agent",
)
CANON_COLS = (
    "songplay_id", "ts_us", "user_id", "level", "song_id", "artist_id",
    "session_id", "location", "user_agent", "day",
)


class LakeIngest:
    """One pass is one day of the paper's pipeline: seeded song/log JSON
    through the star-schema ETL, that day's songplays into a Delta and an
    Iceberg table (append, late-correction merge, user erasure through
    deletion vectors), skipping reads, then a retention delete and each
    format's full maintenance. The tables hold the last ``RETAIN_DAYS``
    days, so size and log length return to the same state at the end of
    every pass.

    The engine's native txlog format is not in the pass: with its default
    maintenance (``optimize()``, ``checkpoint()``, ``vacuum``,
    ``prune_log``) ``TxTable.prune_log`` drops deletion vectors that are
    still live, so a read-back returns erased rows. It joins the pass
    once that is fixed."""

    name = "lake_ingest"
    # A day is a batch job a fresh process runs once, so its first pass
    # is the one users wait for; set-up (three ETL days, three table
    # creates) already loads the ETL and write paths.
    warmup_passes = 0

    def __init__(self, work_dir: str, seed: int):
        self.work_dir, self.seed = work_dir, seed
        self.raw_dir = os.path.join(work_dir, "raw")
        self.etl_dir = os.path.join(work_dir, "etl")
        self.lake_dir = os.path.join(work_dir, "lake")
        self.roots = {f: os.path.join(self.lake_dir, f) for f in ("delta", "iceberg")}

    def generate(self) -> dict:
        days = [
            gen.write_song_log_day(self.raw_dir, self.seed, d)
            for d in range(RETAIN_DAYS + MAX_PASSES)
        ]
        return {
            "songs": gen.N_SONGS,
            "log_rows_per_day": days[0]["rows"],
            "raw_bytes": sum(d["bytes"] for d in days),
            "days_generated": len(days),
        }

    # -- paths and expected state ---------------------------------------

    def _log_glob(self, day: int) -> str:
        return os.path.join(self.raw_dir, "log_data", f"d{day:04d}", "*.json")

    def _etl_out(self, day: int) -> str:
        return os.path.join(self.etl_dir, f"d{day:04d}")

    def _songplays_glob(self, day: int) -> str:
        return os.path.join(self._etl_out(day), "songplays", "**", "*.parquet")

    def _etl(self, day: int) -> None:
        from projectdatalake_spark.pipelines import star_schema

        star_schema.run_pipeline(
            self.spark,
            os.path.join(self.raw_dir, "song_data", "*.json"),
            self._log_glob(day),
            self._etl_out(day),
        )

    def _day_df(self, day: int):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(os.path.join(self._etl_out(day), "songplays")).select(
            *SONGPLAY_COLS, F.lit(day).alias("day")
        )

    def _etl_ok(self, day: int) -> bool:
        """The day's songplays against DuckDB over the raw JSON."""
        sql_exp = f"""
            SELECT l.ts * 1000 AS ts_us, l.userId AS user_id, l.level,
                   s.song_id, s.artist_id, l.sessionId AS session_id,
                   l.location, l.userAgent AS user_agent
            FROM read_json('{self._log_glob(day)}', format='newline_delimited',
                           columns={{page:'VARCHAR', ts:'BIGINT', userId:'VARCHAR',
                                     level:'VARCHAR', song:'VARCHAR', artist:'VARCHAR',
                                     sessionId:'BIGINT', location:'VARCHAR',
                                     userAgent:'VARCHAR'}}) l
            LEFT JOIN read_json('{self.raw_dir}/song_data/*.json',
                                columns={{song_id:'VARCHAR', title:'VARCHAR',
                                          artist_id:'VARCHAR', artist_name:'VARCHAR'}}) s
              ON l.song = s.title AND l.artist = s.artist_name
            WHERE l.page = 'NextSong'
        """
        sql_got = f"""
            SELECT epoch_us(start_time) AS ts_us, user_id, level, song_id,
                   artist_id, session_id, location, user_agent
            FROM read_parquet('{self._songplays_glob(day)}', hive_partitioning=true)
        """
        cur = self.duck.execute(sql_exp)
        exp = check.result([d[0] for d in cur.description], cur.fetchall())
        cur = self.duck.execute(sql_got)
        got = check.result([d[0] for d in cur.description], cur.fetchall())
        (n_ids,) = self.duck.execute(
            f"SELECT count(DISTINCT songplay_id) FROM read_parquet('{self._songplays_glob(day)}', hive_partitioning=true)"
        ).fetchone()
        return exp == got and n_ids == got[0]

    def _expect(self, sql: str) -> tuple:
        cur = self.duck.execute(sql)
        return check.result([d[0] for d in cur.description], cur.fetchall())

    def _canon(self, df) -> tuple:
        from pyspark.sql import functions as F

        out = df.select(
            *[F.unix_micros("start_time").alias("ts_us") if c == "ts_us" else c for c in CANON_COLS]
        )
        return check.result(list(CANON_COLS), out.collect())

    def _songplays_bytes(self, day: int) -> int:
        return stats.live_bytes(stats.file_state(os.path.join(self._etl_out(day), "songplays")))

    # -- set-up -------------------------------------------------------------

    def setup(self, spark) -> None:
        import duckdb
        from pyspark.sql import functions as F

        from projectdatalake_spark.sources.delta_interop import DeltaTable
        from projectdatalake_spark.sources.iceberg_interop import IcebergTable

        self.spark = spark
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 2")
        cols = ", ".join(f"{c} {t}" for c, t in zip(CANON_COLS, (
            "INTEGER", "BIGINT", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR",
            "BIGINT", "VARCHAR", "VARCHAR", "INTEGER",
        )))
        self.duck.execute(f"CREATE TABLE exp ({cols})")
        first = None
        for day in range(RETAIN_DAYS):
            self._etl(day)
            self._insert_day(day)
            df = self._day_df(day)
            first = df if first is None else first.unionByName(df)
        first = first.repartition(1, F.col("day")).cache()
        part = ("day",)
        self.tables = {
            "delta": DeltaTable.create(spark, self.roots["delta"], first, partition_by=part),
            "iceberg": IcebergTable.create(spark, self.roots["iceberg"], first, partition_by=part),
        }
        first.unpersist()
        self.day_bytes = {d: self._songplays_bytes(d) for d in range(RETAIN_DAYS)}
        self.pass_bytes = {f: 0 for f in self.tables}
        self.pass_files = {f: 0 for f in self.tables}
        self.state = {f: stats.file_state(r) for f, r in self.roots.items()}

    def _insert_day(self, day: int) -> None:
        self.duck.execute(f"""
            INSERT INTO exp
            SELECT songplay_id, epoch_us(start_time), user_id, level, song_id,
                   artist_id, session_id, location, user_agent, {day}
            FROM read_parquet('{self._songplays_glob(day)}', hive_partitioning=true)
        """)

    # -- one pass = one day -------------------------------------------------

    def _count_written(self, fmt: str) -> bool:
        """Off the clock, after a write op: count what it wrote. The
        op's correctness is settled by the read-back in ``end_pass``."""
        after = stats.file_state(self.roots[fmt])
        before = self.state[fmt]
        self.pass_bytes[fmt] += stats.bytes_written(before, after)
        self.pass_files[fmt] += sum(1 for p, v in after.items() if before.get(p) != v)
        self.state[fmt] = after
        return True

    def ops(self, pass_no: int) -> Iterator[Op]:
        from pyspark.sql import functions as F

        day = RETAIN_DAYS + pass_no
        if pass_no >= MAX_PASSES:
            raise RuntimeError("lake_ingest ran out of generated days")
        self.pass_bytes = {f: 0 for f in self.tables}
        self.pass_files = {f: 0 for f in self.tables}

        def check_etl(_) -> bool:
            ok = self._etl_ok(day)
            self._insert_day(day)
            self.day_bytes[day] = self._songplays_bytes(day)
            return ok

        yield Op("etl", "write", lambda tr: self._etl(day), check_etl)

        new_day = self._day_df(day).cache()
        new_day.count()
        # yesterday's corrections: every tenth play gets a corrected
        # location (updates), every fiftieth arrives late under a new id
        # (inserts)
        prev = self._day_df(day - 1)
        upd = prev.filter(F.col("songplay_id") % 10 == 0).withColumn(
            "location", F.lit("corrected")
        ).unionByName(
            prev.filter(F.col("songplay_id") % 50 == 1).withColumn(
                "songplay_id", F.col("songplay_id") + 100000
            )
        ).cache()
        upd.count()
        erased = str((self.seed + 7 * day) % gen.N_USERS)
        old = day - RETAIN_DAYS

        for fmt, t in self.tables.items():
            yield Op(f"{fmt}.append", "write", lambda tr, t=t: t.append(new_day),
                     lambda _, f=fmt: self._count_written(f), f"{fmt}.commit", fmt)
            yield Op(f"{fmt}.merge", "write",
                     lambda tr, t=t: t.merge_upsert(upd, ["day", "songplay_id"]),
                     lambda _, f=fmt: self._count_written(f), f"{fmt}.commit", fmt)
            yield Op(f"{fmt}.erase", "write",
                     lambda tr, t=t: t.delete_where_dv(f"user_id = '{erased}'"),
                     lambda _, f=fmt: self._count_written(f), f"{fmt}.commit", fmt)

        self.duck.execute(f"""
            DELETE FROM exp WHERE day = {day - 1} AND songplay_id % 10 = 0
        """)
        self.duck.execute(f"""
            INSERT INTO exp
            SELECT songplay_id, epoch_us(start_time), user_id, level, song_id,
                   artist_id, session_id, 'corrected', user_agent, {day - 1}
            FROM read_parquet('{self._songplays_glob(day - 1)}', hive_partitioning=true)
            WHERE songplay_id % 10 = 0
        """)
        self.duck.execute(f"""
            DELETE FROM exp WHERE day = {day - 1} AND songplay_id IN (
                SELECT songplay_id + 100000 FROM read_parquet('{self._songplays_glob(day - 1)}', hive_partitioning=true)
                WHERE songplay_id % 50 = 1)
        """)
        self.duck.execute(f"""
            INSERT INTO exp
            SELECT songplay_id + 100000, epoch_us(start_time), user_id, level, song_id,
                   artist_id, session_id, location, user_agent, {day - 1}
            FROM read_parquet('{self._songplays_glob(day - 1)}', hive_partitioning=true)
            WHERE songplay_id % 50 = 1
        """)
        self.duck.execute(f"DELETE FROM exp WHERE user_id = '{erased}'")
        # skipping reads: (column, low, high, group-by column)
        probe = str((self.seed + 7 * day + 1) % gen.N_USERS)  # never ``erased``
        reads = {
            "read_recent": ("day", day - 1, day, "level"),
            "read_user": ("user_id", probe, probe, "day"),
        }

        def read(t, col, lo, hi, by):
            df = t.snapshot(where={col: (lo, hi)})
            df = df.filter(F.col(col).between(lo, hi))
            out = df.groupBy(by).agg(F.count(F.lit(1)).alias("n"))
            return out.columns, out.collect()

        # every read on every table, each checked against the same query
        # over ``exp``
        for name, spec in reads.items():
            col, lo, hi, by = spec
            exp = self._expect(f"""
                SELECT {by}, count(*) AS n FROM exp
                WHERE {col} BETWEEN {lo!r} AND {hi!r} GROUP BY {by}
            """)
            for fmt, t in self.tables.items():
                yield Op(f"{fmt}.{name}", "read", lambda tr, t=t, spec=spec: read(t, *spec),
                         lambda out, exp=exp: check.result(*out) == exp)

        retention = {
            "delta": lambda t: t.delete_where_dv(f"day = {old}"),
            "iceberg": lambda t: t.delete_where(f"day = {old}"),
        }
        maintenance = {
            "delta": (
                ("optimize", lambda t: t.optimize()),
                ("checkpoint", lambda t: t.checkpoint()),
                ("vacuum", lambda t: t.vacuum(retain_versions=1)),
                ("prune_log", lambda t: t.prune_log()),
            ),
            "iceberg": (
                ("rewrite", lambda t: t.rewrite_data_files()),
                ("expire", lambda t: t.expire_snapshots(retain=1)),
            ),
        }
        for fmt, t in self.tables.items():
            yield Op(f"{fmt}.retention", "write", lambda tr, t=t, fn=retention[fmt]: fn(t),
                     lambda _, f=fmt: self._count_written(f), f"{fmt}.commit", fmt)
            for step, fn in maintenance[fmt]:
                yield Op(f"{fmt}.{step}", "write", lambda tr, t=t, fn=fn: fn(t),
                         lambda _, f=fmt: self._count_written(f), f"{fmt}.maintain", fmt)
        self.duck.execute(f"DELETE FROM exp WHERE day = {old}")
        new_day.unpersist()
        upd.unpersist()

    def end_pass(self, pass_no: int) -> dict:
        """Off the clock: each table read back against the expected
        state; storage accounting for the pass."""
        day = RETAIN_DAYS + pass_no
        expected = self._expect("SELECT * FROM exp")
        ok = {f: self._canon(t.snapshot()) == expected for f, t in self.tables.items()}
        live = sum(stats.live_bytes(stats.file_state(r)) for r in self.roots.values())
        logical = sum(self.day_bytes[d] for d in range(day - RETAIN_DAYS + 1, day + 1))
        old = day - RETAIN_DAYS
        if old >= 0:  # the ETL output of a day that left every table
            shutil.rmtree(self._etl_out(old), ignore_errors=True)
            self.day_bytes.pop(old, None)
        n = len(self.tables)
        return {
            "tables_ok": ok,
            "write_amp": stats.amplification(sum(self.pass_bytes.values()), n * self.day_bytes[day]),
            "space_amp": stats.amplification(live, n * logical),
            "files_written": dict(self.pass_files),
            "bytes_written": dict(self.pass_bytes),
            "writers_files": sum(
                1 for p in stats.file_state(self._etl_out(day)) if p.endswith(".parquet")
            ),
        }

    def close(self) -> None:
        self.duck.close()


WORKLOADS = {w.name: w for w in (QueryMix, CorpusBatch, LakeIngest)}
