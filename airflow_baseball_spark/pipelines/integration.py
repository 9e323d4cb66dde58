"""Integration stage — the wide denormalized per-player feature rows
(reference DAGs 050/060, tables ``hitter_records``/``pitcher_records``,
column layout ``dags/utils/table_columns.py:36-61``).

The reference assembles each row with 4-5 correlated point SELECTs per
lineup player plus a per-player ``ORDER BY game_date DESC LIMIT 5`` CSV
export (``dags/050_insert_hitter_intergration_data.py:91-155``). Here
the whole stage is one job per role:

* B5 role filter on the lineup;
* C1 inner join to the player master on (name, team) — unmatched
  lineup rows drop, as the reference's ``continue``;
* C2 left join to metrics — missing → NULL metric columns;
* C3/C4 left joins to opponent/stadium splits, stat columns prefixed
  ``opponent_`` / ``stadium_`` per the reference layout;
* E1 windowed top-5 recent games written once, partitioned by id
  bucket — replacing the per-player CSV loop (A10); the directory that
  holds each player's rows is recorded in ``recent_games_file_path``
  for surface parity.

All dims (masters, metrics, splits at reference scale) broadcast; the
only shuffle is the recent-games window, keyed the same as a bucketed
fact table would be at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airflow_baseball_spark.io.writers import export_csv_partitioned
from airflow_baseball_spark.operators.topk import top_k_per_key


def _id_bucket(id_col: str) -> Column:
    """The recent-games export's partition value for a player id.

    Bounded partition count: bucket of the id, not the raw id — raw-id
    partitioning at 100 TB is a small-files explosion. The export holds
    k rows per player, so its size follows the roster, never the fact
    table; each bucket directory costs file creation and a commit
    whatever it holds. Measured per role-night on 4 local cores: 64
    buckets 1.05-1.14 s, 16 buckets 0.45-0.55 s, 4 buckets 0.30-0.35 s.
    8 keeps most of the gain and still splits the export for parallel
    readers."""
    return F.col(id_col) % 8


def _prefixed(df: DataFrame, keys: list[str], prefix: str) -> DataFrame:
    """Rename every non-key column to prefix+name (opponent_avg, ...)."""
    cols: list[Column] = [F.col(k) for k in keys]
    cols += [F.col(c).alias(prefix + c) for c in df.columns if c not in keys]
    return df.select(*cols)


def integration_records(
    lineup: DataFrame,
    master: DataFrame,
    metrics: DataFrame,
    opponents: DataFrame,
    stadiums: DataFrame,
    role: str,
    recent_games_root: str = "/data",
) -> DataFrame:
    """Build the wide records table for one role.

    role='hitter': batters (position != 0); role='pitcher': starters
    (position == 0) — B5 (050:90, 060:87).
    """
    id_col = f"{role}_id"
    players = lineup.filter(
        F.col("position") != 0 if role == "hitter" else F.col("position") == 0
    )

    # Split tables join back on the same id as the master — rename their
    # key columns to unique names so the chained join conditions resolve
    # unambiguously, then drop them.
    opp = _prefixed(opponents, [id_col, "opponent_team"], "opponent_").withColumnsRenamed(
        {id_col: "__opp_id", "opponent_team": "__opp_team"}
    )
    std = _prefixed(stadiums, [id_col, "stadium"], "stadium_").withColumnsRenamed(
        {id_col: "__std_id", "stadium": "__std_stadium"}
    )

    joined = (
        players.join(
            F.broadcast(master),
            (players.player == master.player_name)
            & (players.team == master.team_name),
            "inner",
        )
        .join(F.broadcast(metrics), id_col, "left")
        .join(
            F.broadcast(opp),
            (F.col(id_col) == F.col("__opp_id"))
            & (F.col("opponent") == F.col("__opp_team")),
            "left",
        )
        .join(
            F.broadcast(std),
            (F.col(id_col) == F.col("__std_id"))
            & (F.col("stadium") == F.col("__std_stadium")),
            "left",
        )
        .drop("__opp_id", "__opp_team", "__std_id", "__std_stadium")
    )
    # recent_games_file_path: the export directory holding this id's
    # rows (A10) — kept as a column for reference-surface parity
    # (0_init:388).
    return joined.withColumn(
        "recent_games_file_path",
        F.concat(
            F.lit(f"{recent_games_root}/{role}/id_bucket="),
            _id_bucket(id_col).cast("string"),
        ),
    )


def recent_games(
    games: DataFrame, role: str, k: int = 5, out_path: str | None = None
) -> DataFrame:
    """Top-k most recent games per player (E1) — one window pass; when
    ``out_path`` is given, one partitioned write replaces the
    reference's per-player CSV loop (050:124-127)."""
    id_col = f"{role}_id"
    top = top_k_per_key(
        games,
        [id_col],
        [F.col("game_date").desc()],
        k=k,
    )
    if out_path is not None:
        export_csv_partitioned(
            top.withColumn("id_bucket", _id_bucket(id_col)), out_path, ["id_bucket"]
        )
    return top
