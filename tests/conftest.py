from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from streampro_assignment_etl_spark.session import get_spark

    spark = get_spark("streampro-tests", cpus=8)
    yield spark
    spark.stop()


_SLOW_DESELECTED = pytest.StashKey[int]()


def pytest_deselected(items):
    """Count the ``slow`` tests the ``-m`` expression excluded. ``-k``
    deselects through this hook too, so each item is checked against
    the marker expression: ``-m ""`` counts nothing."""
    if not items:
        return
    config = items[0].config
    if not config.option.markexpr:
        return
    from _pytest.mark.expression import Expression

    expr = Expression.compile(config.option.markexpr)
    n = 0
    for item in items:
        names = {m.name for m in item.iter_markers()}
        if "slow" in names and not expr.evaluate(lambda name, **_: name in names):
            n += 1
    config.stash[_SLOW_DESELECTED] = config.stash.get(_SLOW_DESELECTED, 0) + n


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Make the skipped soak lane visible: the default ``-m "not slow"``
    run says how many ``slow`` tests it left out and how to run them."""
    n = config.stash.get(_SLOW_DESELECTED, 0)
    if n:
        terminalreporter.write_line(
            f'{n} slow tests deselected; run them with: pytest tests/ -m ""'
        )


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


# ---- shared moto S3 fixture (moved from test_pipeline.py so every
# test module can exercise the object-store seams hermetically) ----


class _S3ResultTagShim:
    """WSGI wrapper fixing one moto/aws-sdk-cpp mismatch: moto emits a
    ``<CompleteMultipartUploadResponse>`` root element where real S3
    (and pyarrow's bundled AWS C++ SDK) requires
    ``<CompleteMultipartUploadResult>`` — without the rename the SDK
    treats the 200 as an embedded error and multipart writes fail.
    Everything else passes through byte-identical."""

    def __init__(self, app):
        self.app = app

    def __call__(self, environ, start_response):
        captured = {}

        def sr(status, headers, exc_info=None):
            captured["status"], captured["headers"] = status, headers
            return lambda _: None

        body = b"".join(self.app(environ, sr))
        if b"CompleteMultipartUploadResponse" in body:
            body = body.replace(
                b"CompleteMultipartUploadResponse", b"CompleteMultipartUploadResult"
            )
            captured["headers"] = [
                (k, str(len(body)) if k.lower() == "content-length" else v)
                for k, v in captured["headers"]
            ]
        start_response(captured["status"], captured["headers"])
        return [body]


@pytest.fixture
def moto_s3(monkeypatch):
    """In-process HTTP S3 endpoint (moto + Result-tag shim), with AWS
    env routed so both boto3 and pyarrow's ``FileSystem.from_uri``
    resolve to it. Yields the endpoint URL; server stops on teardown."""
    pytest.importorskip("boto3")
    pytest.importorskip("moto")
    import threading

    from moto.moto_server.werkzeug_app import (
        DomainDispatcherApplication,
        create_backend_app,
    )
    from werkzeug.serving import make_server

    srv = make_server(
        "127.0.0.1",
        0,
        _S3ResultTagShim(DomainDispatcherApplication(create_backend_app)),
        threaded=True,
    )
    port = srv.socket.getsockname()[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    endpoint = f"http://127.0.0.1:{port}"
    monkeypatch.setenv("AWS_ENDPOINT_URL", endpoint)
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    monkeypatch.setenv("AWS_EC2_METADATA_DISABLED", "true")
    yield endpoint
    srv.shutdown()
