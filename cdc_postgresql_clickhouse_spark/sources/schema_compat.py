"""Schema-registry compatibility rules for envelope row schemas — the
gate a CDC platform runs BEFORE letting a new source schema through (the
reference delegates this to Confluent Schema Registry sitting between
Debezium and the sink connector; re-expressed here as a pure StructType
analysis so the T4 schema-change path can enforce the same contract
without the external service).

Semantics follow the registry's JSON/Avro rules:

- BACKWARD  (new readers read old data): the new schema may ADD nullable
  fields and DROP fields, but may not add a required (non-nullable)
  field — old rows have no value for it.
- FORWARD   (old readers read new data): the new schema may add anything
  and may DROP only nullable fields — dropping a required field leaves
  old readers missing a value they rely on.
- FULL      = both.
- Type changes: a WIDENING numeric promotion (int -> long, float ->
  double, and int/long -> double) is compatible both ways here, as in the
  registry; any other type change is breaking in both directions. The
  bucketed state does not apply a promotion in place: each commit records
  the table's schema merged by name with Spark's schema merge
  (``operators.state.write_state``), which rejects a changed type, so a
  promoted column needs its state table rewritten.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.types import StructType

_WIDENINGS = {
    ("integer", "long"),
    ("float", "double"),
    ("integer", "double"),
    ("long", "double"),
}


@dataclass
class CompatReport:
    added_optional: list[str] = field(default_factory=list)
    added_required: list[str] = field(default_factory=list)
    dropped_optional: list[str] = field(default_factory=list)
    dropped_required: list[str] = field(default_factory=list)
    widened: list[str] = field(default_factory=list)
    breaking_type_changes: list[str] = field(default_factory=list)

    @property
    def backward(self) -> bool:
        return not self.added_required and not self.breaking_type_changes

    @property
    def forward(self) -> bool:
        return not self.dropped_required and not self.breaking_type_changes

    @property
    def full(self) -> bool:
        return self.backward and self.forward

    def modes(self) -> list[str]:
        out = []
        if self.backward:
            out.append("BACKWARD")
        if self.forward:
            out.append("FORWARD")
        if self.full:
            out.append("FULL")
        return out


def compatibility(prev: StructType, new: StructType) -> CompatReport:
    """Classify every field-level difference between two row schemas and
    derive which registry compatibility modes the transition satisfies."""
    r = CompatReport()
    pf = {f.name: f for f in prev.fields}
    nf = {f.name: f for f in new.fields}
    for name, f in nf.items():
        if name not in pf:
            (r.added_optional if f.nullable else r.added_required).append(name)
    for name, f in pf.items():
        if name not in nf:
            (r.dropped_optional if f.nullable else r.dropped_required).append(name)
            continue
        old_t = f.dataType.typeName()
        new_t = nf[name].dataType.typeName()
        if old_t == new_t:
            continue
        if (old_t, new_t) in _WIDENINGS:
            r.widened.append(name)
        else:
            r.breaking_type_changes.append(f"{name}: {old_t} -> {new_t}")
    return r
