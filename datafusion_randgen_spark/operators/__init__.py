"""Composed operators Spark lacks natively: dedup family, similarity
search, as-of/range joins, sessionization, text analysis, multimodal."""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def _scoped_conf(spark, settings: dict[str, str]):
    """Set session SQL conf ``settings`` for the body of a ``with``
    block, then restore every key on exit, also on error: a key that
    was set gets its old value back, and a key that was unset is
    unset again, so the session's later queries see their own
    defaults rather than a copied-in value.

    Contract: one query at a time per session.  SQL conf is
    session-global, so a query another thread runs on the same session
    while the block is open also sees these settings."""
    conf = spark.conf
    old = {key: conf.get(key, None) for key in settings}
    for key, value in settings.items():
        conf.set(key, value)
    try:
        yield
    finally:
        for key, value in old.items():
            if value is None:
                conf.unset(key)
            else:
                conf.set(key, value)
