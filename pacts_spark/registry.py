"""Schema registry: versioned JSON schemas keyed ``domain/version/category/name``.

Re-expresses the reference's SchemaLoader (SchemaLoader.java:31-259;
schema_loader.rs:20-208) as a driver-side component. Schemas are compiled
once into Column predicate trees (compiler.py); executors never see the
registry except as a broadcast dict for pandas-UDF JSON-mode checks.

Behavior choices on Java/Rust divergence (SURVEY.md §2.2):
- missing schema → ``None`` (caller emits error row) — Java
  (SchemaLoader.java:90-101), not the Rust panic (schema_loader.rs:66-69);
- bundle-load failure → warn + local-dir fallback — Java
  (SchemaLoader.java:66-70), not the Rust panic;
- ``parsed_version`` on garbage → raise — Java (SchemaLoader.java:257-259),
  not Rust's ``unwrap_or(1)`` (schema_loader.rs:93-95).

Path rule (SchemaLoader.java:179-190; schema_loader.rs:190-203): a schema
file at ``.../{domain}/{version}/{category}/{name}.json`` is keyed by its
last three path segments plus the stem.
"""

from __future__ import annotations

import io
import json
import zipfile
from pathlib import Path

MAX_SCHEMA_BYTES = 10 * 1024 * 1024  # per-entry guard, SchemaLoader.java:43
CONNECT_TIMEOUT_S = 15.0  # SchemaLoader.java:41
READ_TIMEOUT_S = 30.0  # SchemaLoader.java:42


def default_fetch(
    url: str,
    connect_timeout: float = CONNECT_TIMEOUT_S,
    read_timeout: float = READ_TIMEOUT_S,
    max_bytes: int = 256 * 1024 * 1024,
) -> bytes:
    """Default HTTP transport for remote schema bundles: a plain
    ``urllib.request`` GET honoring the reference's guards
    (SchemaLoader.java:41-43 — 15 s connect, 30 s read; the 10 MB
    PER-ENTRY guard is enforced downstream in :meth:`SchemaRegistry.
    load_zip`, same as the reference applies it at entry walk, not at
    download). Timeout semantics mirror ``URLConnection``: the connect
    budget guards the handshake + headers, then each BODY READ gets its
    own ``read_timeout`` (per-read, not a total-download wall clock — a
    slow-but-healthy server streaming a large bundle must not be cut
    off mid-body; review finding). When the underlying socket cannot be
    re-tuned (exotic response wrappers), the fallback is a
    ``read_timeout`` wall-clock deadline for the whole body, checked
    between reads. A single blocked ``read()`` is then bounded only by
    the socket timeout urlopen set, ``connect_timeout`` (15 s by
    default), so the body can take up to ``read_timeout`` plus
    ``connect_timeout``. ``max_bytes``
    caps the TOTAL body (a drip-feeding server defeats per-read
    timeouts; without a size bound it grows driver memory forever —
    review finding). Only ``http``/``https`` URLs are fetched: any other
    scheme (``file:``, ``ftp:``, ...) raises ``ValueError`` before anything
    is opened, so a schema-bundle URL cannot read local files."""
    import time
    import urllib.parse
    import urllib.request

    scheme = urllib.parse.urlsplit(url).scheme.lower()
    if scheme not in ("http", "https"):
        raise ValueError(f"refusing to fetch {url!r}: scheme must be http or https")
    req = urllib.request.Request(url, headers={"User-Agent": "pacts-spark"})
    chunks: list[bytes] = []
    total = 0
    with urllib.request.urlopen(req, timeout=connect_timeout) as resp:
        # switch the socket to the per-read budget after connect
        sock = getattr(getattr(resp, "fp", None), "raw", None)
        sock = getattr(sock, "_sock", None)
        per_read = hasattr(sock, "settimeout")
        if per_read:
            sock.settimeout(read_timeout)
        deadline = time.monotonic() + read_timeout
        while True:
            if not per_read and time.monotonic() > deadline:
                raise TimeoutError(f"read of {url} exceeded {read_timeout}s")
            chunk = resp.read(64 * 1024)
            if not chunk:
                break
            total += len(chunk)
            if total > max_bytes:
                raise ValueError(
                    f"download of {url} exceeded {max_bytes} bytes"
                )
            chunks.append(chunk)
    return b"".join(chunks)


class SchemaRegistry:
    """In-memory schema cache keyed ``domain/version/category/name``.

    Mirrors SchemaLoader.java:31-223 / schema_loader.rs:20-95: same key
    shape, same lazy disk fallback, same clear_cache semantics.
    """

    def __init__(self, domain: str = "bees", version: str = "v1",
                 schema_root: str | Path | None = None) -> None:
        self.domain = domain
        self.version = version
        self.schema_root = Path(schema_root) if schema_root else None
        self._cache: dict[str, dict] = {}

    # -- keys ---------------------------------------------------------------

    def key(self, category: str, name: str) -> str:
        return f"{self.domain}/{self.version}/{category}/{name}"

    @property
    def parsed_version(self) -> int:
        """``"v1"`` → 1; raises on garbage (Java: SchemaLoader.java:257-259)."""
        return int(self.version.lstrip("v"))

    # -- lookup -------------------------------------------------------------

    def load_schema(self, category: str, name: str) -> dict | None:
        """Cache hit, else disk path ``{root}/{domain}/{version}/{category}/
        {name}.json`` (SchemaLoader.java:81-101); None if missing."""
        k = self.key(category, name)
        if k in self._cache:
            return self._cache[k]
        if self.schema_root is not None:
            p = self.schema_root / self.domain / self.version / category / f"{name}.json"
            if p.is_file() and p.stat().st_size <= MAX_SCHEMA_BYTES:
                schema = json.loads(p.read_text())
                self._cache[k] = schema
                return schema
        return None

    def put(self, category: str, name: str, schema: dict) -> None:
        self._cache[self.key(category, name)] = schema

    def clear_cache(self) -> None:
        """SchemaLoader.java:221-223; schema_loader.rs:73-75."""
        self._cache.clear()

    def cached_keys(self) -> list[str]:
        return sorted(self._cache)

    # -- bulk load ----------------------------------------------------------

    def load_dir(self, root: str | Path) -> int:
        """Walk ``**/*.json`` under a directory, key by last 3 segments +
        stem (path rule SchemaLoader.java:179-190). Returns count loaded."""
        root = Path(root)
        n = 0
        for p in sorted(root.rglob("*.json")):
            parts = p.relative_to(root).parts
            if len(parts) < 4:
                continue  # need domain/version/category/name.json
            domain, version, category = parts[-4], parts[-3], parts[-2]
            name = p.stem
            if p.stat().st_size > MAX_SCHEMA_BYTES:
                continue  # entry-size guard (SchemaLoader.java:43,163-167)
            self._cache[f"{domain}/{version}/{category}/{name}"] = json.loads(
                p.read_text()
            )
            n += 1
        return n

    def load_zip(self, source: str | Path | bytes) -> int:
        """Bulk load from a schema bundle ZIP — the local analogue of the
        reference's remote ZIP ingest (SchemaLoader.java:139-216;
        schema_loader.rs:97-208). Same entry-walk + path-parse rule; same
        per-entry size guard. No network in this sandbox; prod would fetch
        the bundle to a local path first (first-source-wins over a
        configured URL list, SchemaLoader.java:114-137)."""
        if isinstance(source, bytes):
            fh: io.BytesIO | str = io.BytesIO(source)
        else:
            fh = str(source)
        # stage-then-commit: a source that fails mid-archive (malformed
        # entry after valid ones) must leave the registry UNTOUCHED, or
        # first-source-wins silently serves a mix of the failed source's
        # partial entries and the winner's
        staged: dict[str, dict] = {}
        with zipfile.ZipFile(fh) as zf:
            for entry in sorted(zf.namelist()):
                if not entry.endswith(".json") or entry.endswith("/"):
                    continue
                parts = [s for s in entry.split("/") if s]
                if len(parts) < 4:
                    continue
                info = zf.getinfo(entry)
                if info.file_size > MAX_SCHEMA_BYTES:
                    continue
                domain, version, category = parts[-4], parts[-3], parts[-2]
                name = parts[-1][: -len(".json")]
                staged[f"{domain}/{version}/{category}/{name}"] = json.loads(
                    zf.read(entry).decode("utf-8")
                )
        self._cache.update(staged)
        return len(staged)

    def load_sources(self, sources: list[str | Path]) -> int:
        """First-source-wins over an ordered source list
        (SchemaLoader.java:139-211; schema_loader.rs:97-122): try each
        bundle (zip or dir) in order; first successful load wins. On total
        failure, fall back to ``schema_root`` lazy-disk mode (Java:
        SchemaLoader.java:66-70) rather than raising (Rust panics)."""
        for src in sources:
            try:
                p = Path(src)
                n = self.load_zip(p) if p.suffix == ".zip" else self.load_dir(p)
                if n > 0:
                    return n
            except Exception:  # noqa: BLE001 — warn-and-continue per Java
                continue
        return 0

    def load_remote_sources(self, urls: list[str], fetch=None) -> int:
        """The reference's remote bulk ingest (SchemaLoader.java:139-211
        GET of a release ZIP). The transport defaults to
        :func:`default_fetch` (urllib GET with the reference's 15 s
        connect / 30 s read guards, SchemaLoader.java:41-43) and stays
        dependency-injectable: ``fetch(url) -> bytes`` is the only
        network-touching step, so tests pass a fake — every
        semantics-carrying rule (ordered first-source-wins,
        warn-and-continue on a failing source, entry path parse,
        per-entry size guard, total-failure fallback to lazy-disk mode)
        is THIS code and is covered.

        Returns the entry count from the first source that yields > 0
        schemas, else 0 (caller stays in schema_root disk mode)."""
        if fetch is None:
            fetch = default_fetch
        for url in urls:
            try:
                n = self.load_zip(fetch(url))
                if n > 0:
                    return n
            except Exception:  # noqa: BLE001 — warn-and-continue per Java
                continue
        return 0

    @staticmethod
    def load_sources_config(path: str | Path) -> list[str]:
        """Parse the ``sources:`` URL/path list from a YAML config — the
        reference's embedded application.yml / sources.yaml
        (SchemaLoader.java:114-137; schema_loader.rs:124-135). Returns []
        on missing/empty config (Java warns and falls back)."""
        import yaml

        p = Path(path)
        if not p.is_file():
            return []
        doc = yaml.safe_load(p.read_text()) or {}
        if isinstance(doc, dict):
            # support both flat `sources:` and the reference's
            # `pacts: schemas: sources:` nesting
            if "sources" in doc:
                src = doc["sources"]
            else:
                src = (
                    doc.get("pacts", {}).get("schemas", {}).get("sources")
                    if isinstance(doc.get("pacts"), dict)
                    else None
                )
            return [str(s) for s in src] if isinstance(src, list) else []
        return []

    def as_validator_dict(self) -> dict[str, dict]:
        """``{category}/{name}`` → schema view for the validator/oracle
        (lookup shape of SchemaLoader.java:81-86) for the registry's own
        domain/version."""
        prefix = f"{self.domain}/{self.version}/"
        return {
            k[len(prefix):]: v for k, v in self._cache.items() if k.startswith(prefix)
        }
