"""In-memory spans around calls into the program's public functions."""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Spans:
    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._local = threading.local()  # each thread nests its own spans
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        row = {"id": None, "name": name, "start": time.time(), "end": None,
               "parent": stack[-1]["id"] if stack else None, "iteration": iteration}
        with self._lock:
            row["id"] = len(self.rows)
            self.rows.append(row)
        stack.append(row)
        try:
            yield row
        finally:
            stack.pop()
            row["end"] = time.time()

    def named(self, name: str) -> list[dict]:
        return [r for r in self.rows if r["name"] == name and r["end"] is not None]

    def named_in(self, iteration: int, prefix: str) -> list[dict]:
        return [r for r in self.rows if r["iteration"] == iteration
                and r["name"].startswith(prefix) and r["end"] is not None]

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(self.rows))
