"""ELT job discovery — the project-layout contract of the reference CLI.

Jobs live at ``<project_root>/<warehouse>/ingest/<domain>/<job>/<job>.py``
(reference: elt-common/src/elt_common/pipeline.py:41-78) and are described
by an :class:`ELTJobManifest` (pipeline_types.py:40-61). The landing
namespace for a job is ``{domain}_{job}`` and landing warehouses get the
``_landing`` suffix (pipeline_types.py:54-61).

The job module must define exactly one subclass of
:class:`~analytics_data_platform_spark.elt.extract.Extract`; it is
instantiated with keyword config drawn from ``{JOB}__``-prefixed
environment variables (the reference's pydantic-settings contract,
extract.py:144-194, without the pydantic dependency).
"""

from __future__ import annotations

import importlib.util
import inspect
import os
from dataclasses import dataclass
from pathlib import Path

from analytics_data_platform_spark.elt.extract import Extract


@dataclass(frozen=True)
class ELTJobManifest:
    warehouse: str
    domain: str
    name: str
    directory: Path

    @property
    def namespace(self) -> str:
        return f"{self.domain}_{self.name}"

    @property
    def module_path(self) -> Path:
        return self.directory / f"{self.name}.py"


def discover_jobs(project_root: str | Path) -> list[ELTJobManifest]:
    """All jobs under ``<warehouse>/ingest/<domain>/<job>/<job>.py``."""
    root = Path(project_root)
    if not root.is_dir():
        raise ValueError(f"project root does not exist: {root}")
    jobs: list[ELTJobManifest] = []
    for warehouse_dir in sorted(p for p in root.iterdir() if p.is_dir()):
        ingest = warehouse_dir / "ingest"
        if not ingest.is_dir():
            continue
        for domain_dir in sorted(p for p in ingest.iterdir() if p.is_dir()):
            for job_dir in sorted(p for p in domain_dir.iterdir() if p.is_dir()):
                if (job_dir / f"{job_dir.name}.py").is_file():
                    jobs.append(
                        ELTJobManifest(
                            warehouse=warehouse_dir.name,
                            domain=domain_dir.name,
                            name=job_dir.name,
                            directory=job_dir,
                        )
                    )
    return jobs


def find_job(project_root: str | Path, name: str) -> ELTJobManifest:
    jobs = discover_jobs(project_root)
    matches = [j for j in jobs if j.name == name]
    if not matches:
        known = ", ".join(j.name for j in jobs) or "<none>"
        raise LookupError(f"job {name!r} not found; discovered jobs: {known}")
    if len(matches) > 1:
        dirs = ", ".join(str(j.directory) for j in matches)
        raise LookupError(f"job name {name!r} is ambiguous: {dirs}")
    return matches[0]


def job_env_config(job_name: str, environ: dict[str, str] | None = None) -> dict[str, str]:
    """``{JOB}__KEY=value`` env vars → {key: value} kwargs (lower-cased)."""
    env = environ if environ is not None else os.environ
    prefix = f"{job_name.upper()}__"
    return {k[len(prefix):].lower(): v for k, v in env.items() if k.startswith(prefix)}


def load_extract_class(manifest: ELTJobManifest) -> type[Extract]:
    """Dynamic import of the job module; exactly one Extract subclass."""
    spec = importlib.util.spec_from_file_location(
        f"elt_jobs.{manifest.namespace}", manifest.module_path
    )
    if spec is None or spec.loader is None:
        raise ImportError(f"cannot load job module {manifest.module_path}")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    candidates = [
        obj
        for _, obj in inspect.getmembers(module, inspect.isclass)
        if issubclass(obj, Extract) and obj is not Extract and obj.__module__ == module.__name__
    ]
    if not candidates:
        raise TypeError(f"{manifest.module_path} defines no Extract subclass")
    if len(candidates) > 1:
        names = ", ".join(c.__name__ for c in candidates)
        raise TypeError(f"{manifest.module_path} defines multiple Extract subclasses: {names}")
    return candidates[0]
