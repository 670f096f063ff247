"""Relational operator library — lazy Catalyst plan transforms.

Unlike the reference's collect→mutate→re-register round-trips (SURVEY.md §3
Entry C), every operator here folds onto the logical plan; nothing
materializes on the driver, so the same code runs unchanged on a 1000-executor
cluster.
"""

from .joins import join_dfs
from .projection import (
    add_column,
    add_pk_to_df,
    df_sql,
    select_all_exclude,
    with_typed_null,
    zip_with_index_df,
)
from .schema import df_cols_to_json, df_cols_to_struct
from .setops import concat_dfs

__all__ = [
    "join_dfs",
    "df_sql",
    "select_all_exclude",
    "with_typed_null",
    "add_column",
    "add_pk_to_df",
    "zip_with_index_df",
    "df_cols_to_json",
    "df_cols_to_struct",
    "concat_dfs",
]
