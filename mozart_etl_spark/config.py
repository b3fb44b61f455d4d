"""Tenant configuration layer.

Parses the reference's ``tenant.yaml`` shape (see
``/root/reference/mozart_etl/code_locations/project_01/tenant.yaml:1-91``)
into typed specs, with the same ``${VAR}`` / ``${VAR:default}``
environment-variable resolution semantics as the reference's config
loader (``mozart_etl/lib/_shared.py:51-76``): resolution is recursive
over nested dicts/lists, an unset variable without a default resolves
to the empty string, and the ``:default`` split happens on the first
colon only.

Everything here is plain Python — no Spark dependency — so specs can
be built and validated without a session.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Any

try:
    import yaml
except ImportError:  # pragma: no cover - yaml ships in this env
    yaml = None

_ENV_PATTERN = re.compile(r"\$\{([^}]+)\}")


def resolve_env(value: Any) -> Any:
    """Recursively substitute ``${VAR}`` / ``${VAR:default}`` in strings
    from the process environment.

    Non-strings pass through; dicts/lists are resolved element-wise.
    """
    if isinstance(value, str):

        def _sub(m: re.Match[str]) -> str:
            body = m.group(1)
            name, _, default = body.partition(":")
            return os.environ.get(name, default)

        return _ENV_PATTERN.sub(_sub, value)
    if isinstance(value, dict):
        return {k: resolve_env(v) for k, v in value.items()}
    if isinstance(value, list):
        return [resolve_env(v) for v in value]
    return value


@dataclass(frozen=True)
class SourceConfig:
    """Connection spec for a tenant's source system.

    ``type`` selects the connector (``postgresql`` / ``mysql`` /
    ``oracle`` mirror the reference's connector registry,
    ``connectors/__init__.py:8-23``; ``parquet`` is this engine's
    file-based source used for tests and re-ingest).
    """

    type: str
    host: str = ""
    port: int = 0
    user: str = ""
    password: str = ""
    database: str = ""
    #: oracle only: service_name (preferred) or sid DSN form
    service_name: str = ""
    sid: str = ""
    #: parquet source only: directory containing {table}.parquet
    path: str = ""
    options: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "SourceConfig":
        known = {f for f in cls.__dataclass_fields__}
        kwargs = {k: v for k, v in d.items() if k in known}
        extra = {k: str(v) for k, v in d.items() if k not in known}
        kwargs.setdefault("options", {})
        kwargs["options"] = {**extra, **dict(kwargs["options"])}
        if "port" in kwargs and kwargs["port"]:
            kwargs["port"] = int(kwargs["port"])
        return cls(**kwargs)


@dataclass(frozen=True)
class TableSpec:
    """One extracted table (reference ``tenant.yaml:21-91`` entries).

    ``mode``: ``full`` (drop-and-replace) or ``incremental``
    (high-watermark cursor on ``incremental_column``; falls back to
    truncate-and-reload when no cursor state exists — the reference's
    observed behavior, ``_tenant_factory.py:290-307``).
    """

    name: str
    schema: str = ""
    columns: tuple[str, ...] | None = None
    tenant_filter: str = ""
    incremental_column: str = ""
    mode: str = "full"
    primary_key: tuple[str, ...] = ()
    limit: int | None = None
    #: numeric/date/timestamp column for parallel JDBC range reads.
    #: Opt-in (Spark rejects string partition columns, and a PK is
    #: often a string), bounds are derived from a min/max probe at
    #: extract time — see ``sources/reader.py``.
    partition_column: str = ""
    num_partitions: int = 8

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "TableSpec":
        return cls(
            name=d["name"],
            schema=d.get("schema", ""),
            columns=tuple(d["columns"]) if d.get("columns") else None,
            tenant_filter=d.get("tenant_filter", "") or "",
            incremental_column=d.get("incremental_column", "") or "",
            mode=d.get("mode", "full"),
            primary_key=tuple(d.get("primary_key", []) or []),
            limit=d.get("limit"),
            partition_column=d.get("partition_column", "") or "",
            num_partitions=int(d.get("num_partitions", 8) or 8),
        )


@dataclass(frozen=True)
class TenantSpec:
    """A tenant: id, source, extracted tables, run params, model dir.

    Namespace conventions follow the reference: raw layer in
    ``{tenant_id}_raw``, transformed layers in ``{tenant_id}``
    (``_tenant_factory.py:196-197``), with a ``dev_`` prefix outside
    PROD (``utils/environment_helpers.py:12-16``).
    """

    tenant_id: str
    source: SourceConfig
    tables: tuple[TableSpec, ...]
    params: dict[str, Any] = field(default_factory=dict)
    schedule: str = "0 */2 * * *"
    models_dir: str = ""

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "TenantSpec":
        d = resolve_env(d)
        return cls(
            tenant_id=d["tenant_id"],
            source=SourceConfig.from_dict(d.get("source", {"type": "parquet"})),
            tables=tuple(TableSpec.from_dict(t) for t in d.get("tables", [])),
            params=dict(d.get("params", {}) or {}),
            schedule=d.get("schedule", "0 */2 * * *"),
            models_dir=d.get("models_dir", ""),
        )

    @classmethod
    def from_yaml(cls, path: str) -> "TenantSpec":
        if yaml is None:  # pragma: no cover
            raise ImportError("pyyaml is required to load tenant.yaml files")
        with open(path) as f:
            raw = yaml.safe_load(f)
        spec = cls.from_dict(raw)
        if not spec.models_dir:
            default_models = os.path.join(os.path.dirname(path), "models")
            if os.path.isdir(default_models):
                object.__setattr__(spec, "models_dir", default_models)
        return spec

    def raw_namespace(self, env: str = "PROD") -> str:
        prefix = "" if env.upper() == "PROD" else "dev_"
        return f"{prefix}{self.tenant_id}_raw"

    def mart_namespace(self, env: str = "PROD") -> str:
        prefix = "" if env.upper() == "PROD" else "dev_"
        return f"{prefix}{self.tenant_id}"
