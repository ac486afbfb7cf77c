"""Engine configuration, mirroring the shapes of the reference's
``config.yaml`` (port, data dir, rotation thresholds, worker count,
copy chunking — see BASELINE.md §1 for the shipped defaults)."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class SinkConfig:
    data_dir: str = "data"
    max_file_size_bytes: int = 100 * 1024 * 1024
    max_rows_per_file: int = 1_000
    max_file_age_seconds: int = 30
    rotate_interval_seconds: float = 1.0  # reference: 1 s ticker
    upload_interval_seconds: float = 10.0  # reference: 10 s ticker


@dataclass
class WorkersConfig:
    count: int = 1  # reference default workers.count: 1
    dequeue_timeout_seconds: float = 1.0
    max_bulk_query_size_bytes: int = 500_000_000
    bulk_chunk_size_bytes: int = 50_000_000
    # compact a table once its current generation accumulates this many
    # parquet files (0 = off); micro-batch ingest makes many tiny files
    auto_compact_files: int = 0


@dataclass
class ApiConfig:
    host: str = "127.0.0.1"
    port: int = 3000
    # reference DashboardConfig.ExternalURL — rendered into request
    # links and the API-key page; "" → relative links only
    external_url: str = ""


@dataclass
class Config:
    sink: SinkConfig = field(default_factory=SinkConfig)
    workers: WorkersConfig = field(default_factory=WorkersConfig)
    api: ApiConfig = field(default_factory=ApiConfig)
    warehouse: str = "warehouse"
    metadata_db: str = "scratchdata.sqlite"
    # COPY TO confinement dir (relative to the app root); queries may
    # only export under it — a query API key must not write elsewhere
    export_root: str = "exports"
    # generation snapshots kept per table (current included): 2 = just
    # enough for in-flight readers; more = a time-travel history window
    # for table_at('name', N) / read_generation
    retain_generations: int = 2
    api_keys: dict[str, str] = field(default_factory=dict)  # key -> destination
    admin_key: str | None = None
    # durable-storage settings: {} → local dir; {"type": "s3"|"gcs", ...}
    blobstore: dict = field(default_factory=dict)

    @classmethod
    def from_dict(cls, d: dict) -> "Config":
        return cls(
            sink=SinkConfig(**d.get("sink", {})),
            workers=WorkersConfig(**d.get("workers", {})),
            api=ApiConfig(**d.get("api", {})),
            warehouse=d.get("warehouse", "warehouse"),
            metadata_db=d.get("metadata_db", "scratchdata.sqlite"),
            export_root=d.get("export_root", "exports"),
            retain_generations=d.get("retain_generations", 2),
            api_keys=d.get("api_keys", {}),
            admin_key=d.get("admin_key"),
            blobstore=d.get("blobstore", {}),
        )
