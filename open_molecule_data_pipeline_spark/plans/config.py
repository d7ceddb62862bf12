"""Declarative YAML job configuration.

Same shape as the reference's job model (reference ``ingestion/runner.py:
76-112`` and ``config/ingestion-example.yaml``): ``job.{output_dir,
checkpoint_dir, batch_size, concurrency, compress_output, sources[]}`` with
per-source ``{type, name, options}``. Validation parity: unknown source
types rejected (``runner.py:83-88``), duplicate source names rejected
(``runner.py:101-106``).
"""

from __future__ import annotations

from pathlib import Path
from typing import Any, Literal

import yaml
from pydantic import BaseModel, Field, field_validator, model_validator


class SourceDefinition(BaseModel):
    type: Literal[
        "sdf",
        "smiles_table",
        "http",
        "chemspider",
        # named types matching the reference registry (runner.py:45-50)
        "pubchem",
        "chembl",
        "zinc",
    ]
    # names are interpolated into checkpoint/output paths — constrain to a
    # path-safe slug so "../x" or "a/b" can't escape the checkpoint root
    name: str = Field(pattern=r"^[A-Za-z0-9][A-Za-z0-9._-]*$")
    options: dict[str, Any] = Field(default_factory=dict)


class IngestionJobConfig(BaseModel):
    output_dir: str
    checkpoint_dir: str
    batch_size: int = 1000
    concurrency: int = 1
    compress_output: bool = True
    sources: list[SourceDefinition] = Field(default_factory=list)

    @field_validator("batch_size", "concurrency")
    @classmethod
    def _positive(cls, v: int) -> int:
        if v < 1:
            raise ValueError("must be >= 1")
        return v

    @model_validator(mode="after")
    def _unique_names(self) -> "IngestionJobConfig":
        names = [s.name for s in self.sources]
        if len(names) != len(set(names)):
            raise ValueError(f"duplicate source names: {sorted(names)}")
        return self


class IngestionJob(BaseModel):
    job: IngestionJobConfig


def load_config(path: str | Path) -> IngestionJobConfig:
    data = yaml.safe_load(Path(path).read_text(encoding="utf-8"))
    return IngestionJob.model_validate(data).job
