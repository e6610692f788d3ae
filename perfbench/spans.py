"""In-memory spans around calls into the engine's layers.

A span records name, start, end, parent and pass id.  While a span is
open on a thread, that thread's Spark job group is ``span-<id>``, so the
event log ties every job the call submits to the span; the previous
group is restored when the span closes.  Jobs submitted from threads
the engine starts itself carry no such group and stay unattributed.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a worker thread hangs off the span the main
        # thread is in (the pipeline run that started the thread)
        parent = (stack or self._main_stack or [None])[-1]
        rec = {"name": name, "parent": parent, "pass": self.pass_id,
               "start": time.time(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"span-{rec['id']}")
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` with a callable that runs it in a span."""
        fn = getattr(owner, attr)
        label = name or attr

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- analysis -----------------------------------------------------
    def span_of_group(self, group: str | None) -> int | None:
        if group and group.startswith("span-"):
            sid = int(group[5:])
            if sid < len(self.spans):
                return sid
        return None

    def ancestors(self, sid: int):
        while sid is not None:
            yield sid
            sid = self.spans[sid]["parent"]

    def self_time(self, sid: int) -> float:
        """Duration minus the part of it that child spans cover."""
        rec = self.spans[sid]
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == sid and c["end"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, rec["start"]), min(e, rec["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return rec["end"] - rec["start"] - covered
