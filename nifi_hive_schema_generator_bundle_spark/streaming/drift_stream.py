"""Continuous per-group schema-drift monitoring.

The batch ``operators.drift.schema_drift_report`` answers "how do my
sources differ right now"; this is its streaming twin: per micro-batch,
fold each group's records into a driver-held schema (the keyed
one-aggregate lattice inference of ``infer_schema_by_key``) and emit an event
whenever a group gains a field, loses parity, or demotes a type — the
signal a 100 TB ingest pipeline alerts on before a bad producer poisons
a day of data.

State is raw lattice shapes only (tiny, driver-held), exactly like
``infer_stream.InferenceState`` — no Spark stateful operator needed;
watermarks are irrelevant because schema merge is monotone (late data
can only widen a schema, never retract it).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType

from ..operators.drift import _null_first, field_classes
from ..operators.infer import _shapes_by_key
from ..plans.lattice import merge_raw, type_from_dict

__all__ = ["GroupDriftState", "ValueDriftMonitor"]


@dataclass
class GroupDriftState:
    """Driver-held per-group schemas + drift-event log.

    Wire ``process_batch`` into ``foreachBatch``; read ``events`` (or
    hook ``on_drift``) for the change feed. Each event is
    ``(batch_id, group, field, change)`` with change ∈
    {'new_group', 'new_field', 'retyped:<old>-><new>'}; a NULL group key
    is a group of its own, ``None``, ordered first."""

    json_col: str = "payload"
    key_col: str = "group_key"
    events: list[tuple[int, str, str, str]] = field(default_factory=list)
    batches: int = 0
    on_drift: Callable[[int, str, str, str], None] | None = None
    _shapes: dict[str, Any] = field(default_factory=dict, init=False, repr=False)

    @property
    def schemas(self) -> dict[str, DataType]:
        return {k: type_from_dict(v) for k, v in self._shapes.items()}

    def _emit(self, batch_id: int, group: str, fld: str, change: str) -> None:
        self.events.append((batch_id, group, fld, change))
        if self.on_drift is not None:
            self.on_drift(batch_id, group, fld, change)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches += 1
        batch = _shapes_by_key(batch_df, self.json_col, self.key_col)
        for key in sorted(batch, key=_null_first):
            old = self._shapes.get(key)  # bottom: a group not seen yet
            merged = self._shapes[key] = merge_raw(old, batch[key])
            if old is None:
                self._emit(batch_id, key, "*", "new_group")
                continue
            oldc, newc = field_classes(old), field_classes(merged)
            for fld in sorted(newc):
                if fld not in oldc:
                    self._emit(batch_id, key, fld, "new_field")
                elif newc[fld] != oldc[fld]:
                    self._emit(
                        batch_id, key, fld, f"retyped:{oldc[fld]}->{newc[fld]}"
                    )


@dataclass
class ValueDriftMonitor:
    """Continuous VALUE-distribution drift: per micro-batch PSI of a
    numeric column against a pinned reference histogram — the
    streaming twin of ``operators.drift.distribution_drift``, watching
    live ingest for the composition shift a weekly batch comparison
    would catch a week late.

    Build with ``from_reference`` (one pinned-range histogram scan of
    the reference snapshot, |bins| counts collected once); wire
    ``process_batch`` into ``foreachBatch``. Per batch: ONE narrow
    count-aggregate of the batch at the same pinned edges (|bins| rows
    to the driver — state and traffic are both O(bins), never data),
    then the identical Laplace-smoothed PSI arithmetic as the batch
    operator, so a monitor reading and an offline
    ``distribution_drift`` sum over the same two snapshots agree to
    the same 6-decimal rounding. Events: (batch_id, n, psi);
    ``on_alert`` fires when psi >= ``threshold`` (0.25 = the standard
    "shifted" line; 0.1 = "drifting"). An empty batch smooths to the
    uniform histogram, so it still scores nonzero PSI against any
    non-uniform reference — a stalled producer reads as drift, not as
    "stable".
    """

    col: str
    bins: int
    lo: float
    hi: float
    smoothing: float = 0.5
    threshold: float = 0.25
    ref_counts: list[int] = field(default_factory=list)
    events: list[tuple[int, int, float]] = field(default_factory=list)
    on_alert: Callable[[int, float], None] | None = None

    @classmethod
    def from_reference(
        cls,
        ref: DataFrame,
        col: str,
        *,
        bins: int = 10,
        lo: float,
        hi: float,
        smoothing: float = 0.5,
        threshold: float = 0.25,
        on_alert: Callable[[int, float], None] | None = None,
    ) -> "ValueDriftMonitor":
        if smoothing <= 0:
            raise ValueError("smoothing must be > 0 (it guards empty buckets)")
        m = cls(
            col=col,
            bins=bins,
            lo=float(lo),
            hi=float(hi),
            smoothing=float(smoothing),
            threshold=float(threshold),
            on_alert=on_alert,
        )
        m.ref_counts = m._histogram(ref)
        return m

    def _histogram(self, df: DataFrame) -> list[int]:
        from ..operators.profile import value_histogram

        counts = [0] * self.bins
        for r in value_histogram(
            df, self.col, bins=self.bins, lo=self.lo, hi=self.hi
        ).collect():
            counts[r["bucket"]] = int(r["n"])
        return counts

    def psi_against(self, cur_counts: list[int]) -> float:
        """The batch operator's exact smoothing + ln arithmetic, driver
        side (|bins| numbers), rounded to the same 6 decimals."""
        import math

        s = self.smoothing
        tr = sum(self.ref_counts) + s * self.bins
        tc = sum(cur_counts) + s * self.bins
        psi = 0.0
        for nr, nc in zip(self.ref_counts, cur_counts):
            p = (nr + s) / tr
            q = (nc + s) / tc
            psi += round((p - q) * math.log(p / q), 6)
        return round(psi, 6)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        cur = self._histogram(batch_df)
        psi = self.psi_against(cur)
        self.events.append((int(batch_id), sum(cur), psi))
        if psi >= self.threshold and self.on_alert is not None:
            self.on_alert(int(batch_id), psi)
