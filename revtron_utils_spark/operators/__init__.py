from .merge import delete_where, keyed_update, observe_hits, upsert_merge, upsert_merge_many

__all__ = ["delete_where", "keyed_update", "observe_hits", "upsert_merge", "upsert_merge_many"]
