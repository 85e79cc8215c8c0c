"""Workload management: admission control, resource classes, memory grants,
scale ladder (SURVEY §2.13 M1-M5).

The reference engine admits 4-128 concurrent queries and queues the rest
(white-papers/...md:121); each query consumes concurrency slots determined
by its resource class (SlotUsage.sql:1-12, query_memory_usage.sql:22-42).
Spark has scheduler pools but no slot admission — this controller adds the
cooperative layer (SURVEY §4 conclusion: a service, not a Catalyst rule).
"""

from __future__ import annotations

import threading
import time
from collections import deque
from contextlib import contextmanager

# Resource class → slots, mirroring the reference's static classes
# (white-papers/...md:119-121: small/medium/large/xlarge consuming
# 1/3/7/22 of 32 slots at DW500's generation-1 sizing).
RESOURCE_CLASS_SLOTS = {
    "smallrc": 1,
    "mediumrc": 3,
    "largerc": 7,
    "xlargerc": 22,
}

TOTAL_SLOTS = 32

#: waits-log rows an AdmissionController keeps: a Queued and a Granted row
#: for each of the last 10,000 requests (engine.REQUEST_HISTORY)
WAITS_HISTORY = 20_000

# DWU ladder (dwuconfigs.json:2-16; ScaleAzureSQLDataWarehouse.ps1:13-40).
DWU_LADDER = [100, 200, 300, 400, 500, 600, 1000, 1200, 1500, 2000, 3000, 6000]


class AdmissionController:
    """Concurrency-slot semaphore with a waits log (M1).

    ``admit`` blocks until the request's resource class can take its slots,
    recording Queued→Granted transitions the way sys.dm_pdw_resource_waits
    exposes them (vw_query_queue.sql:10-12).
    """

    def __init__(self, total_slots: int = TOTAL_SLOTS) -> None:
        self.total_slots = total_slots
        self._used = 0
        self._cv = threading.Condition()
        self._waits: deque[tuple[str, str, str, float, int]] = deque(
            maxlen=WAITS_HISTORY
        )

    def slots_for(self, resource_class: str) -> int:
        try:
            return RESOURCE_CLASS_SLOTS[resource_class]
        except KeyError:
            raise ValueError(
                f"unknown resource class {resource_class!r}; "
                f"expected one of {sorted(RESOURCE_CLASS_SLOTS)}"
            ) from None

    @contextmanager
    def admit(self, request_id: str, resource_class: str):
        need = self.slots_for(resource_class)
        t0 = time.time()
        with self._cv:
            if self._used + need > self.total_slots:
                # one Queued row per waiting request, not per wake-up
                self._waits.append(
                    (request_id, resource_class, "Queued", 0.0, need)
                )
                while self._used + need > self.total_slots:
                    self._cv.wait(timeout=5)
            self._used += need
            self._waits.append(
                (request_id, resource_class, "Granted", round(time.time() - t0, 3), need)
            )
        try:
            yield
        finally:
            with self._cv:
                self._used -= need
                self._cv.notify_all()

    def slots_used(self) -> int:
        with self._cv:
            return self._used

    def waits_log(self) -> list[tuple[str, str, str, float, int]]:
        with self._cv:
            return list(self._waits)


def memory_grant_mb(column_count: int, short_string_cols: int, long_string_cols: int) -> float:
    """The reference's load memory-grant model (MemoryGrant.sql:7-12):

    72 MiB base + 8 MiB/column + 32 MiB per short-string (≤32 chars) column
    + 16 MiB per long-string column.
    """
    base = 75_497_472 / 1_048_576  # 72 MiB
    return base + 8.0 * column_count + 32.0 * short_string_cols + 16.0 * long_string_cols


class ScaleLadder:
    """DWU-style scale ladder with quiesce gate (M4).

    ``can_scale`` reproduces ScaleAzureSQLDataWarehouse.ps1:66-97: scale only
    when no active queries, no transactional sessions, no exclusive waits.
    Locally this maps to a no-op resize; on a cluster it would drive
    dynamic-allocation bounds.
    """

    def __init__(self, ladder: list[int] | None = None, current: int = 500) -> None:
        self.ladder = ladder or DWU_LADDER
        if current not in self.ladder:
            raise ValueError(f"current DWU {current} not on ladder")
        self.current = current
        #: (operation, from_dwu, to_dwu, start_ts, end_ts, state_desc) —
        #: sys.dm_operation_status parity rows (slo_status.sql:17-31 polls
        #: state_desc of the latest ALTER DATABASE operation)
        self.history: list[tuple[str, int, int, float, float, str]] = []

    def can_scale(self, active_queries: int, open_transactions: int, exclusive_waits: int) -> bool:
        return active_queries == 0 and open_transactions == 0 and exclusive_waits == 0

    def _step(self, direction: int) -> int:
        i = self.ladder.index(self.current)
        j = min(max(i + direction, 0), len(self.ladder) - 1)
        return self.ladder[j]

    def scale(self, target: int, active_queries: int = 0, open_transactions: int = 0,
              exclusive_waits: int = 0) -> int:
        if target not in self.ladder:
            raise ValueError(f"target DWU {target} not on ladder {self.ladder}")
        if not self.can_scale(active_queries, open_transactions, exclusive_waits):
            raise RuntimeError("system not quiesced: refusing to scale")
        now = time.time()
        self.history.append(("ALTER DATABASE", self.current, target, now, now, "COMPLETED"))
        self.current = target
        return self.current

    def scale_up(self, **gate) -> int:
        return self.scale(self._step(+1), **gate)

    def scale_down(self, **gate) -> int:
        return self.scale(self._step(-1), **gate)

    # --- pause / resume (M5): SuspendOrPauseAzureSQLDataWarehouse.ps1,
    # ResumeAzureSQLDataWarehouse.ps1, DWPauseTrigger/DWResumeTrigger ------

    @property
    def paused(self) -> bool:
        return getattr(self, "_paused", False)

    def pause(self, active_queries: int = 0) -> None:
        """Suspend compute.  Refuses while queries run (the automation
        scripts quiesce first); locally this is a state transition + an
        operation-status row — on a cluster it would stop executors."""
        if active_queries:
            raise RuntimeError("cannot pause: queries are active")
        if not self.paused:
            now = time.time()
            self.history.append(
                ("PAUSE DATABASE", self.current, self.current, now, now, "COMPLETED")
            )
            self._paused = True

    def resume(self) -> None:
        if self.paused:
            now = time.time()
            self.history.append(
                ("RESUME DATABASE", self.current, self.current, now, now, "COMPLETED")
            )
            self._paused = False


class AutoScaler:
    """Alert/timer-driven scale policy — the sqlDwAutoScaler function pair.

    * ``ensure_default`` (ScaleSqlDwByTimer.cs:36-44): if the warehouse sits
      below the default DWU, scale up to it.
    * ``handle_alert`` (ScaleSqlDw.cs:44-120): an Activated "scale up" alert
      steps one ladder level up (no-op at max); "scale down" steps one level
      down unless inside the scheduled scale-up hours; every decision is
      logged with DWU before/after, action, and error (DwScaleLogEntity).

    ``clock`` is an injectable ``() -> local_hour`` so schedule behavior is
    testable; the schedule window mirrors IsInsideScaleUpScheduleTime.
    """

    def __init__(
        self,
        ladder: ScaleLadder,
        default_dwu: int = 500,
        schedule_hours: tuple[int, int] = (8, 18),
        clock=None,
    ) -> None:
        self.ladder = ladder
        self.default_dwu = default_dwu
        self.schedule_hours = schedule_hours
        self._clock = clock or (lambda: time.localtime().tm_hour)
        self.logs: list[dict] = []

    def _log(self, alert: str, action: str, before: int, after: int, error: str | None = None) -> None:
        self.logs.append(
            {
                "alert_name": alert,
                "action": action,
                "dwu_before": f"DW{before}",
                "dwu_after": f"DW{after}",
                "error": error,
            }
        )

    def inside_schedule(self) -> bool:
        lo, hi = self.schedule_hours
        return lo <= self._clock() < hi

    def ensure_default(self, **gate) -> int:
        before = self.ladder.current
        if before < self.default_dwu:
            after = self.ladder.scale(self.default_dwu, **gate)
            self._log("timer", "Scale Up", before, after)
            return after
        self._log("timer", "None", before, before)
        return before

    def handle_alert(self, alert_name: str, status: str = "Activated", **gate) -> int:
        before = self.ladder.current
        if status != "Activated":
            self._log(alert_name, "None", before, before, "alert not activated")
            return before
        name = alert_name.lower()
        if "scale up" in name:
            after = self.ladder.scale_up(**gate)
            self._log(alert_name, "Scale Up" if after != before else "None", before, after,
                      None if after != before else "already at MAX level")
            return after
        if "scale down" in name:
            if self.inside_schedule():
                self._log(alert_name, "None", before, before,
                          "inside scheduled scale up hours")
                return before
            after = self.ladder.scale_down(**gate)
            self._log(alert_name, "Scale Down" if after != before else "None", before, after,
                      None if after != before else "already at MIN level")
            return after
        self._log(alert_name, "None", before, before, "unrecognized alert")
        return before


class FleetAutoPause:
    """Tag-driven fleet pause/resume orchestration — the Logic-App
    workflows of arm-templates/sqlDwLogicAppAutoPause
    (ScheduledAutoPauseResumeDWFleet.json: a recurrence trigger lists
    every warehouse carrying the opt-in tag and walks them;
    EventbasedAutoPauseResumeDW.json adds the Until_ZeroActiveQueries
    gate before the pause call).

    Members register with a tag set; ``tick`` evaluates the pause/resume
    schedule for every warehouse carrying ``AutoPauseEnabled`` and acts
    exactly like the workflow's per-item branch:

    * inside the pause window + Online → pause, but ONLY once active
      queries drain (the Until_ZeroActiveQueries loop — here: the member
      stays Online and the decision logs ``waiting``; the next tick
      retries, which is precisely the workflow's retry-on-recurrence
      behavior).
    * inside the resume window + Paused → resume.
    * untagged members are never touched (the fleet template's
      Get_tagged_resources filter).

    ``active_queries`` comes from a caller-supplied callable per member
    (on the engine: ``lambda: len(active requests)``) so the controller
    composes with both real engines and tests.
    """

    TAG = "AutoPauseEnabled"

    def __init__(self, pause_hours: tuple[int, int] = (20, 6)) -> None:
        #: pause window may wrap midnight (20:00 → 06:00), like the
        #: scheduled template's default off-hours shape
        self.pause_hours = pause_hours
        self.members: dict[str, dict] = {}
        self.decisions: list[dict] = []

    def register(self, name: str, ladder: ScaleLadder, tags: set[str] | None = None,
                 active_queries=None) -> None:
        self.members[name] = {
            "ladder": ladder,
            "tags": set(tags or ()),
            "active_queries": active_queries or (lambda: 0),
        }

    def _in_pause_window(self, hour: int) -> bool:
        lo, hi = self.pause_hours
        return lo <= hour or hour < hi if lo > hi else lo <= hour < hi

    def _log(self, name: str, action: str, detail: str | None = None) -> None:
        self.decisions.append({"warehouse": name, "action": action, "detail": detail})

    def tick(self, hour: int) -> list[dict]:
        """One recurrence firing.  Returns this tick's decision rows."""
        start = len(self.decisions)
        for name, m in self.members.items():
            if self.TAG not in m["tags"]:
                continue  # Get_tagged_resources never returns it
            ladder: ScaleLadder = m["ladder"]
            if self._in_pause_window(hour):
                if ladder.paused:
                    self._log(name, "none", "already paused")
                    continue
                n = m["active_queries"]()
                if n:
                    self._log(name, "waiting", f"{n} active queries")
                    continue
                ladder.pause()
                self._log(name, "pause", None)
            else:
                if ladder.paused:
                    ladder.resume()
                    self._log(name, "resume", None)
                else:
                    self._log(name, "none", "already online")
        return self.decisions[start:]


class FleetAutoScale:
    """Tag-driven fleet SCALE orchestration — the scheduled Logic-App
    workflows of arm-templates/sqlDwLogicAppAutoScale
    (ScheduledAutoScaleDWFleet.json; the single-warehouse
    ScheduledAutoScaleDW.json carries the identical per-item branch).

    Policy lives on each warehouse's TAGS, exactly like the template:
    ``AutoScheduleScaleUpTime`` / ``AutoScheduleScaleUpSLO`` and
    ``AutoScheduleScaleDownTime`` / ``AutoScheduleScaleDownSLO``.  A
    15-minute recurrence fires the scale when local time falls inside
    the template's tolerance window around the tagged time
    (``[T-5min, T+11min)`` — addMinutes(...,-5)/addMinutes(...,11)) and
    the warehouse is Online (paused members are skipped, untagged
    members never touched).  The target DWU comes from the SLO tag, not
    a ladder step — scheduled scaling jumps straight to the tagged
    level."""

    WINDOW_BEFORE_MIN = 5
    WINDOW_AFTER_MIN = 11

    def __init__(self) -> None:
        self.members: dict[str, dict] = {}
        self.decisions: list[dict] = []

    def register(self, name: str, ladder: ScaleLadder, tags: dict[str, str],
                 active_queries=None) -> None:
        self.members[name] = {
            "ladder": ladder,
            "tags": dict(tags),
            "active_queries": active_queries or (lambda: 0),
        }

    def _in_window(self, now_min: int, tagged_min: int) -> bool:
        lo = tagged_min - self.WINDOW_BEFORE_MIN
        hi = tagged_min + self.WINDOW_AFTER_MIN
        # window may straddle midnight on a 24h clock
        return lo <= now_min < hi or lo <= now_min - 1440 < hi

    def _log(self, name: str, action: str, detail: str | None = None) -> None:
        self.decisions.append({"warehouse": name, "action": action, "detail": detail})

    @staticmethod
    def _dwu(slo: str) -> int:
        return int(slo.upper().removeprefix("DW").removesuffix("C"))

    def tick(self, now_min: int) -> list[dict]:
        """One recurrence firing at ``now_min`` minutes past local
        midnight.  Returns this tick's decision rows."""
        start = len(self.decisions)
        for name, m in self.members.items():
            tags = m["tags"]
            ladder: ScaleLadder = m["ladder"]
            if ladder.paused:
                self._log(name, "none", "not Online")
                continue
            for verb, t_tag, s_tag in (
                ("scale_down", "AutoScheduleScaleDownTime", "AutoScheduleScaleDownSLO"),
                ("scale_up", "AutoScheduleScaleUpTime", "AutoScheduleScaleUpSLO"),
            ):
                if t_tag not in tags or s_tag not in tags:
                    continue
                # Azure tag values are strings ("480" = minutes past
                # midnight) — coerce, so string-tagged members match the
                # template's actual tag form as well as int-tagged tests
                if not self._in_window(now_min, int(tags[t_tag])):
                    continue
                target = self._dwu(str(tags[s_tag]))
                if ladder.current == target:
                    self._log(name, "none", f"already at DW{target}")
                    continue
                try:
                    ladder.scale(target, active_queries=m["active_queries"]())
                    self._log(name, verb, f"-> DW{target}")
                except RuntimeError as e:  # quiesce gate — retry next tick
                    self._log(name, "waiting", str(e))
        return self.decisions[start:]
