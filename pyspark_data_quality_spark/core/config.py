"""Env-backed engine configuration.

Parity target: the reference's ``core/config.py:5-6`` — a
``pydantic-settings`` shell reading ``.env`` with NO keys defined
(README.md:170-178 documents the intent). Here the same env-first shape
with the keys the engine actually consults, implemented on ``os.environ``
(pydantic-settings is not a baked-in dependency; stdlib keeps it exact).

Every key is overridable per-instance; the env supplies defaults. Prefix:
``DQ_``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env(name: str, default: str) -> str:
    return os.environ.get(f"DQ_{name}", default)


@dataclass
class Config:
    """Engine defaults, resolved from the environment at construction.

    - ``dataset`` (DQ_DATASET): default dataset label on metric rows
      (consulted by ``DQManager``).
    - ``severity_level`` (DQ_SEVERITY): severity a ``DQManager`` run
      reports for rules that did not set one explicitly.

    Only keys the engine actually CONSULTS live here — a previous
    revision also carried approx_rsd / max_bucket_size / sf_dir that
    nothing read, which is worse than no configuration: an operator
    setting the env var got zero effect and no warning. Operator tuning
    knobs (HLL rsd, LSH bucket caps) stay explicit per-call parameters
    by design.
    """

    dataset: str = field(default_factory=lambda: _env("DATASET", ""))
    severity_level: str = field(default_factory=lambda: _env("SEVERITY", "medium"))
