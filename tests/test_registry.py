"""SchemaRegistry tests: path rule, zip bundles, cache, version parse
(SchemaLoader.java:81-259 / schema_loader.rs:59-208 parity choices)."""

from __future__ import annotations

import json
import zipfile

import pytest

from pacts_spark.registry import SchemaRegistry


def _schema(req):
    return {"type": "object", "properties": {}, "required": req}


def test_load_dir_path_rule(tmp_path):
    root = tmp_path / "schemas"
    p = root / "bees" / "v1" / "cat" / "thing.json"
    p.parent.mkdir(parents=True)
    p.write_text(json.dumps(_schema(["a"])))
    # deeper nesting: only last 3 segments + stem matter (SchemaLoader.java:179-190)
    q = root / "extra" / "depth" / "bees" / "v2" / "cat2" / "other.json"
    q.parent.mkdir(parents=True)
    q.write_text(json.dumps(_schema(["b"])))

    reg = SchemaRegistry(domain="bees", version="v1")
    n = reg.load_dir(root)
    assert n == 2
    assert reg.load_schema("cat", "thing") == _schema(["a"])
    reg2 = SchemaRegistry(domain="bees", version="v2")
    reg2.load_dir(root)
    assert reg2.load_schema("cat2", "other") == _schema(["b"])


def test_load_zip_bundle(tmp_path):
    z = tmp_path / "bundle.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("release/bees/v1/player/player_request.json", json.dumps(_schema(["x"])))
        zf.writestr("release/readme.txt", "ignore me")
        zf.writestr("shallow.json", "{}")  # <4 segments → skipped
    reg = SchemaRegistry()
    assert reg.load_zip(z) == 1
    assert reg.load_schema("player", "player_request") == _schema(["x"])


def test_load_sources_first_wins(tmp_path):
    a = tmp_path / "a"
    (a / "bees" / "v1" / "c").mkdir(parents=True)
    (a / "bees" / "v1" / "c" / "n.json").write_text(json.dumps(_schema(["from_a"])))
    b = tmp_path / "b"
    (b / "bees" / "v1" / "c").mkdir(parents=True)
    (b / "bees" / "v1" / "c" / "n.json").write_text(json.dumps(_schema(["from_b"])))
    reg = SchemaRegistry()
    reg.load_sources([tmp_path / "missing.zip", a, b])
    assert reg.load_schema("c", "n") == _schema(["from_a"])  # first success wins


def test_lazy_disk_fallback_and_cache_clear(tmp_path):
    root = tmp_path / "schemas"
    p = root / "bees" / "v1" / "cat" / "lazy.json"
    p.parent.mkdir(parents=True)
    p.write_text(json.dumps(_schema(["z"])))
    reg = SchemaRegistry(schema_root=root)
    assert reg.load_schema("cat", "lazy") == _schema(["z"])  # disk miss → load
    assert reg.cached_keys() == ["bees/v1/cat/lazy"]
    reg.clear_cache()
    assert reg.cached_keys() == []
    assert reg.load_schema("cat", "lazy") is not None  # reloads from disk
    assert reg.load_schema("cat", "nope") is None  # Java: None, not panic


def test_parsed_version():
    assert SchemaRegistry(version="v1").parsed_version == 1
    assert SchemaRegistry(version="v42").parsed_version == 42
    with pytest.raises(ValueError):
        _ = SchemaRegistry(version="garbage").parsed_version  # Java: raise


def test_as_validator_dict():
    reg = SchemaRegistry(domain="bees", version="v1")
    reg.put("c", "n", _schema(["q"]))
    reg._cache["other/v9/c/n"] = _schema(["nope"])
    assert reg.as_validator_dict() == {"c/n": _schema(["q"])}


def test_load_sources_config(tmp_path):
    y = tmp_path / "sources.yaml"
    y.write_text("sources:\n  - /bundles/a.zip\n  - /bundles/b\n")
    assert SchemaRegistry.load_sources_config(y) == ["/bundles/a.zip", "/bundles/b"]
    y2 = tmp_path / "application.yml"
    y2.write_text("pacts:\n  schemas:\n    sources:\n      - http://example/x.zip\n")
    assert SchemaRegistry.load_sources_config(y2) == ["http://example/x.zip"]
    assert SchemaRegistry.load_sources_config(tmp_path / "missing.yml") == []


def test_load_remote_sources_transport_injected(tmp_path):
    """Remote bulk ingest with a fake transport: first-source-wins,
    warn-and-continue on transport failure AND on bad archives, size
    guard enforced, miss -> 0 (lazy-disk fallback stays available)."""
    import io
    import zipfile

    from pacts_spark.registry import MAX_SCHEMA_BYTES, SchemaRegistry

    def bundle(entries):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for path, payload in entries.items():
                zf.writestr(path, payload)
        return buf.getvalue()

    good = bundle({
        "bees/v1/transcripts/turn_a.json": '{"type": "object"}',
        "bees/v1/transcripts/too_big.json": "x" * (MAX_SCHEMA_BYTES + 1),
        "shallow.json": "{}",                      # <4 path parts: skipped
    })
    calls = []

    def fetch(url):
        calls.append(url)
        if url == "https://example.invalid/down.zip":
            raise ConnectionError("no route")
        if url == "https://example.invalid/corrupt.zip":
            return b"not a zip"
        if url == "https://example.invalid/empty.zip":
            return bundle({})
        return good

    reg = SchemaRegistry(domain="bees", version="v1", schema_root=tmp_path)
    n = reg.load_remote_sources(
        ["https://example.invalid/down.zip",
         "https://example.invalid/corrupt.zip",
         "https://example.invalid/empty.zip",
         "https://example.invalid/good.zip",
         "https://example.invalid/never-reached.zip"],
        fetch,
    )
    assert n == 1                                  # only turn_a survives guards
    assert reg.load_schema("transcripts", "turn_a") == {"type": "object"}
    assert "bees/v1/transcripts/too_big" not in reg.cached_keys()
    assert calls == [                              # first-wins stops the walk
        "https://example.invalid/down.zip",
        "https://example.invalid/corrupt.zip",
        "https://example.invalid/empty.zip",
        "https://example.invalid/good.zip",
    ]
    # total failure -> 0, registry untouched beyond prior state
    reg2 = SchemaRegistry(domain="bees", version="v1", schema_root=tmp_path)
    assert reg2.load_remote_sources(
        ["https://example.invalid/down.zip"], fetch
    ) == 0


def test_load_remote_sources_default_http_transport(tmp_path):
    """End-to-end remote ingest with NO caller-supplied transport: a
    local http.server serves the bundle; the default urllib fetch
    (reference timeout guards, SchemaLoader.java:41-43) downloads it,
    and a 404 first source falls through warn-and-continue."""
    import http.server
    import io
    import threading
    import zipfile

    from pacts_spark.registry import SchemaRegistry

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("bees/v1/transcripts/turn_a.json", '{"type": "object"}')
    body = buf.getvalue()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/bundle.zip":
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_error(404)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        reg = SchemaRegistry(domain="bees", version="v1", schema_root=tmp_path)
        n = reg.load_remote_sources(
            [
                f"http://127.0.0.1:{port}/missing.zip",  # 404 → continue
                f"http://127.0.0.1:{port}/bundle.zip",
            ]
        )
        assert n == 1
        assert reg.load_schema("transcripts", "turn_a") == {"type": "object"}
    finally:
        srv.shutdown()
        srv.server_close()


def test_default_fetch_read_deadline(tmp_path):
    """A stalling-but-alive server must trip the read deadline, not hang
    the loader (the reference's 30 s read guard, scaled down here)."""
    import http.server
    import threading
    import time

    import pytest

    from pacts_spark.registry import default_fetch

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Length", "1000000")
            self.end_headers()
            # trickle forever: one chunk then stall past the deadline
            self.wfile.write(b"x" * 1024)
            self.wfile.flush()
            time.sleep(5)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        with pytest.raises((TimeoutError, OSError)):
            default_fetch(
                f"http://127.0.0.1:{port}/slow.zip",
                connect_timeout=2.0,
                read_timeout=0.5,
            )
    finally:
        srv.shutdown()
        srv.server_close()


def test_default_fetch_rejects_non_http_schemes(tmp_path):
    """Only http(s) is fetched: a file:// URL must raise before anything
    is opened, not return the local file's bytes (nor may a remote
    source list read them through load_remote_sources)."""
    import io
    import zipfile

    import pytest

    from pacts_spark.registry import SchemaRegistry, default_fetch

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("bees/v1/transcripts/local.json", '{"type": "object"}')
    secret = tmp_path / "secret.zip"
    secret.write_bytes(buf.getvalue())
    for url in (secret.as_uri(), f"FILE://{secret}", "ftp://127.0.0.1/x.zip",
                str(secret)):
        with pytest.raises(ValueError, match="http or https"):
            default_fetch(url)
    reg = SchemaRegistry(domain="bees", version="v1", schema_root=tmp_path)
    assert reg.load_remote_sources([secret.as_uri()]) == 0


def test_load_zip_is_atomic_on_mid_archive_failure(tmp_path):
    """Regression: a bundle failing mid-archive (malformed entry after
    valid ones) must leave the registry untouched — partial commits
    would make first-source-wins serve a mix of loser + winner."""
    import io
    import zipfile

    import pytest

    from pacts_spark.registry import SchemaRegistry

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("bees/v1/transcripts/aa_ok.json", '{"type": "object"}')
        zf.writestr("bees/v1/transcripts/zz_bad.json", "{not json")
    reg = SchemaRegistry(domain="bees", version="v1", schema_root=tmp_path)
    with pytest.raises(Exception):
        reg.load_zip(buf.getvalue())
    assert reg.cached_keys() == []      # nothing leaked from the failed source
