"""Operational surfaces: backup runs, SLO/scale status, TDE status.

Ports of the reference's sqlops monitoring scripts:

* ``LatestBackup.sql:2-10`` — latest ``sys.pdw_loader_backup_runs`` row with
  start/end/progress/duration.
* ``slo_status.sql:1-31`` — service-level objective of the warehouse
  (edition + 'DW500c'-style objective) and a poll loop over
  ``sys.dm_operation_status`` for in-flight ALTER DATABASE scale events.
* ``transparent_data_encryption_status.sql:1-9`` — per-database encryption
  flag.

Backups here are REAL distributed copies: every table's rows are rewritten
as parquet under the destination (a Spark job per table — at scale this is
the standard parquet-to-parquet backup fan-out, no driver data path).  TDE
is a config surface (parquet columnar encryption needs a KMS; the flag and
view exist so ops tooling ports unchanged).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog
from .operators._frames import small_df, utc
from .wlm import ScaleLadder


@dataclass
class BackupRun:
    run_id: int
    tables: list[str]
    dest: str
    start_time: float
    end_time: float | None = None
    progress: int = 0
    status: str = "RUNNING"
    rows_backed_up: int = 0
    error: str | None = None


@dataclass
class OpsService:
    """Engine-attached operational services + their DMV-style frames."""

    spark: SparkSession
    catalog: Catalog
    ladder: ScaleLadder = field(default_factory=ScaleLadder)
    database_name: str = "warehouse"
    _backup_runs: list[BackupRun] = field(default_factory=list)
    _encrypted: dict[str, bool] = field(default_factory=dict)

    # --- backups (sys.pdw_loader_backup_runs) ----------------------------

    def backup(self, tables: list[str], dest: str) -> BackupRun:
        """Copy each table's data to ``dest/<schema>.<table>`` as parquet.

        One distributed write job per table; progress advances per table the
        way the loader backup runs report percent complete."""
        run = BackupRun(
            run_id=len(self._backup_runs) + 1,
            tables=list(tables),
            dest=dest,
            start_time=time.time(),
        )
        self._backup_runs.append(run)
        try:
            for i, t in enumerate(tables):
                df = self.spark.table(Catalog._q(t))
                df.write.mode("overwrite").parquet(f"{dest}/{t}")
                run.rows_backed_up += df.count()
                run.progress = int(100 * (i + 1) / len(tables))
            run.status = "COMPLETED"
        except Exception as e:  # noqa: BLE001
            run.status = "FAILED"
            run.error = str(e)[:500]
            raise
        finally:
            run.end_time = time.time()
        return run

    def backup_runs(self) -> DataFrame:
        return small_df(
            self.spark,
            [
                (r.run_id, utc(r.start_time), utc(r.end_time), r.progress,
                 r.status, len(r.tables), r.rows_backed_up, r.dest)
                for r in self._backup_runs
            ],
            "run_id int, start_time timestamp, end_time timestamp,"
            " progress_percent int, status string, n_tables int,"
            " rows_backed_up long, dest string",
        )

    # --- SLO / scale operations (slo_status.sql) -------------------------

    def slo_status(self) -> DataFrame:
        """sys.database_service_objectives parity: Name/Edition/ServiceObject."""
        return small_df(
            self.spark,
            [(self.database_name, "DataWarehouse", f"DW{self.ladder.current}c")],
            "Name string, Edition string, ServiceObject string",
        )

    def operation_status(self) -> DataFrame:
        """sys.dm_operation_status parity over the scale ladder's history —
        the relation slo_status.sql:17-31 polls for IN_PROGRESS scales."""
        return small_df(
            self.spark,
            [
                (op, "Database", f"DW{frm}c -> DW{to}c", utc(t0), utc(t1), state)
                for (op, frm, to, t0, t1, state) in self.ladder.history
            ],
            "operation string, resource_type_desc string, detail string,"
            " start_time timestamp, end_time timestamp, state_desc string",
        )

    def wait_for_scale(self, poll_sec: float = 0.1, timeout_sec: float = 30.0) -> str:
        """The slo_status.sql WHILE loop: block until the latest ALTER
        DATABASE operation leaves IN_PROGRESS; returns its final state."""
        deadline = time.time() + timeout_sec
        while time.time() < deadline:
            hist = self.ladder.history
            if not hist or hist[-1][5] != "IN_PROGRESS":
                return hist[-1][5] if hist else "NONE"
            time.sleep(poll_sec)
        raise TimeoutError("scale operation still IN_PROGRESS")

    # --- TDE (transparent_data_encryption_status.sql) --------------------

    def set_encryption(self, database: str, encrypted: bool) -> None:
        self._encrypted[database] = encrypted

    def tde_status(self, databases: list[str]) -> DataFrame:
        """Per-database encryption flags for the catalog's ``databases``,
        TRUE/FALSE strings like the reference's CASE is_encrypted output;
        databases default FALSE."""
        dbs = sorted(set(databases) | set(self._encrypted))
        rows = [
            (name, "TRUE" if self._encrypted.get(name, False) else "FALSE")
            for name in dbs
        ]
        return small_df(self.spark, rows, "name string, Encrypted string")


# --- ADF management-operations pipeline (samples/adf/management-operations)


@dataclass
class ManagementActivity:
    """One parsed activity of the ADF management pipeline
    (json/pipeline-managementoperations.json:7-52)."""

    name: str
    action_types: list[str]          # "Pause|Resume|Scale" placeholder split
    service_objective: str | None    # extendedProperties.ServiceObjective
    frequency: str                   # scheduler.frequency
    interval: int                    # scheduler.interval
    retry: int                       # Policy.retry
    concurrency: int                 # Policy.concurrency


class ManagementPipeline:
    """The reference's ADF pause/resume/scale pipeline as an engine surface.

    The JSON shape (DotNetActivity calling ManagementActivity with
    ActionType ∈ {Pause, Resume, Scale} + ServiceObjective, on an hourly
    scheduler with a retry policy) parses VERBATIM; ``run`` dispatches the
    action onto the warehouse's scale ladder — the semantics
    ``wlm.AutoScaler`` models, now reachable from the reference's own
    pipeline definition file.  Azure credentials/subscription fields are
    deployment config with no engine analogue and are ignored.
    """

    def __init__(self, activities: list[ManagementActivity]) -> None:
        self.activities = activities

    @classmethod
    def from_json(cls, path: str) -> "ManagementPipeline":
        import json

        with open(path, encoding="utf-8-sig") as f:  # ADF files carry a BOM
            doc = json.load(f)
        acts = []
        for a in doc.get("properties", {}).get("activities", []):
            props = a.get("typeProperties", {})
            ext = props.get("extendedProperties", {})
            policy = a.get("Policy", {})
            sched = a.get("scheduler", {})
            acts.append(
                ManagementActivity(
                    name=a.get("Name", ""),
                    action_types=[
                        s.strip()
                        for s in ext.get("ActionType", "").split("|")
                        if s.strip()
                    ],
                    service_objective=ext.get("ServiceObjective"),
                    frequency=sched.get("frequency", "Hour"),
                    interval=int(sched.get("interval", 1)),
                    retry=int(policy.get("retry", 0)),
                    concurrency=int(policy.get("concurrency", 1)),
                )
            )
        return cls(acts)

    def run(self, ops: OpsService, action: str | None = None, **gate) -> list[str]:
        """Execute each activity; ``action`` picks one when the definition
        carries the multi-choice placeholder.  Failures retry up to the
        activity's Policy.retry count (the ADF slice-retry semantics);
        returns one 'name: action -> result' line per activity."""
        out = []
        for act in self.activities:
            chosen = action if action in act.action_types else (
                act.action_types[0] if len(act.action_types) == 1 else action
            )
            if chosen not in ("Pause", "Resume", "Scale"):
                raise ValueError(
                    f"activity {act.name!r} offers {act.action_types}; "
                    f"pass action= to choose"
                )
            last_err = None
            for _attempt in range(act.retry + 1):
                try:
                    if chosen == "Pause":
                        ops.ladder.pause(
                            active_queries=gate.get("active_queries", 0)
                        )
                        result = "Paused"
                    elif chosen == "Resume":
                        ops.ladder.resume()
                        result = "Online"
                    else:
                        dwu = int(
                            "".join(c for c in (act.service_objective or "")
                                    if c.isdigit()) or 0
                        )
                        ops.ladder.scale(dwu, **gate)
                        result = f"DW{ops.ladder.current}c"
                    last_err = None
                    break
                except RuntimeError as e:  # gate refusal — the retryable class
                    last_err = e
            if last_err is not None:
                raise last_err
            out.append(f"{act.name}: {chosen} -> {result}")
        return out
