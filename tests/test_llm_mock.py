"""Run the reference's LLM e2e confs UNMODIFIED against a local replay
of its own MockServer expectations (mockserver-config.json). The confs
target http://mockserver:1080 (the Testcontainers network alias);
$SEATUNNEL_SPARK_HOST_ALIASES remaps that hostname to 127.0.0.1 —
the engine-level analog of Docker extra_hosts."""

import json
import os
import re
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from conftest import reference_params, reference_path
from seatunnel_spark.job.engine import JobEngine
from seatunnel_spark.job.spec import JobSpec

_P1 = reference_path("seatunnel-e2e/seatunnel-transforms-v2-e2e/"
                     "seatunnel-transforms-v2-e2e-part-1/src/test/resources")

LLM_CONFS = [
    f"{_P1}/llm_openai_transform.conf",
    f"{_P1}/llm_openai_transform_boolean.conf",
    f"{_P1}/llm_openai_transform_columns.conf",
    f"{_P1}/llm_openai_transform_custom_output_name.conf",
    f"{_P1}/llm_openai_transform_multi_table.conf",
    f"{_P1}/embedding_transform.conf",
    f"{_P1}/embedding_transform_multi_table.conf",
    f"{_P1}/llm_kimiai_transform.conf",
    f"{_P1}/llm_microsoft_transform.conf",
    f"{_P1}/llm_transform_custom.conf",
    f"{_P1}/embedding_transform_custom.conf",
]


def _load_expectations():
    out = []
    for name in ("mockserver-config.json", "mock-embedding.json"):
        # strip the // comment line MockServer's config files start with
        with open(f"{_P1}/{name}") as f:
            text = "\n".join(l for l in f.read().splitlines()
                             if not l.strip().startswith("//"))
        out += [
            (re.compile(e["httpRequest"]["path"] + "$"),
             e["httpResponse"]["body"])
            for e in json.loads(text)
        ]
    return out


@pytest.fixture(scope="module")
def mock_llm_server():
    expectations = _load_expectations()

    class Handler(BaseHTTPRequestHandler):
        def _reply(self):
            for pat, body in expectations:
                if pat.match(self.path.split("?")[0]):
                    payload = json.dumps(body).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(payload)))
                    self.end_headers()
                    self.wfile.write(payload)
                    return
            self.send_response(404)
            self.end_headers()

        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            self._reply()

        def do_GET(self):  # QIANFAN oauth round-trip
            self._reply()

        def log_message(self, *args):
            pass

    server = HTTPServer(("127.0.0.1", 1080), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    old = os.environ.get("SEATUNNEL_SPARK_HOST_ALIASES")
    os.environ["SEATUNNEL_SPARK_HOST_ALIASES"] = "mockserver=127.0.0.1"
    yield server
    if old is None:
        os.environ.pop("SEATUNNEL_SPARK_HOST_ALIASES", None)
    else:
        os.environ["SEATUNNEL_SPARK_HOST_ALIASES"] = old
    server.shutdown()


@pytest.mark.parametrize(
    "conf", reference_params(LLM_CONFS),
    ids=lambda c: os.path.basename(c),
)
def test_llm_conf_against_reference_mock(spark, mock_llm_server, conf):
    JobEngine(spark).run(JobSpec.from_file(conf))
