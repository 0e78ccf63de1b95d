"""Multi-query streaming runner (SURVEY.md §2.8-T9).

The reference runs one query per Python process and blocks forever on
`awaitTermination()` (`sparkpykafkajoin.py:151-152`). The runner manages
N named queries in one session: start, await-all, deterministic
drain-and-stop for tests.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQuery


class QueryRunner:
    def __init__(self) -> None:
        self.queries: dict[str, StreamingQuery] = {}

    def add(self, name: str, query: StreamingQuery) -> StreamingQuery:
        self.queries[name] = query
        return query

    def drain(self, name: str | None = None) -> None:
        """Process everything currently available, then return (the
        deterministic test mode). Only active queries are drained; a
        query that already terminated, such as a finished availableNow
        query, is skipped."""
        targets = [self.queries[name]] if name else list(self.queries.values())
        for q in targets:
            if q.isActive:
                q.processAllAvailable()

    def await_all(self) -> None:
        """Block like the reference's awaitTermination, but for every
        managed query."""
        for q in self.queries.values():
            q.awaitTermination()

    def stop_all(self) -> None:
        for q in self.queries.values():
            if q.isActive:
                q.stop()
        self.queries.clear()
