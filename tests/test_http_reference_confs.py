"""Run the connector-http-e2e suite's job confs UNMODIFIED against a
local replay of the reference's own MockServer expectations
(connector-http-e2e/src/test/resources/mockserver-config.json —
the exact request matchers + bodies HttpIT's Testcontainers MockServer
serves). Confs target http://mockserver:1080; the
$SEATUNNEL_SPARK_HOST_ALIASES remap is the Docker-network analog.

Matching is faithful to the expectation files: method + path +
queryStringParameters + required headers (the sink confs' `token`
header is enforced — a sink that drops headers 404s and fails)."""

import json
import os
import re
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlsplit

import pytest

from conftest import reference_params, reference_path
from seatunnel_spark.job.engine import JobEngine
from seatunnel_spark.job.spec import JobSpec

_RES = reference_path("seatunnel-e2e/seatunnel-connector-v2-e2e/"
                      "connector-http-e2e/src/test/resources")

HTTP_CONFS = [
    f"{_RES}/http_json_to_assert.conf",
    f"{_RES}/http_contentjson_to_assert.conf",
    f"{_RES}/http_jsonpath_to_assert.conf",
    f"{_RES}/http_jsonrequestbody_to_assert.conf",
    f"{_RES}/http_formrequestbody_to_assert.conf",
    f"{_RES}/http_multilinejson_to_assert.conf",
    f"{_RES}/http_page_increase_page_num.conf",
    f"{_RES}/http_page_increase_start_num.conf",
    f"{_RES}/http_page_increase_no_page_num.conf",
    f"{_RES}/httpnoschema_to_http.conf",
    f"{_RES}/http_jsonrequestbody_to_feishu.conf",
    f"{_RES}/fake_to_multitable.conf",
    # SaaS wrappers (auth-header shaping + same read path)
    f"{_RES}/github_json_to_assert.conf",
    f"{_RES}/gitlab_json_to_assert.conf",
    f"{_RES}/jira_json_to_assert.conf",
    f"{_RES}/klaviyo_json_to_assert.conf",
    f"{_RES}/lemlist_json_to_assert.conf",
    f"{_RES}/notion_json_to_assert.conf",
    f"{_RES}/onesignal_json_to_assert.conf",
    f"{_RES}/persistiq_json_to_assert.conf",
]
# Not runnable here: http_streaming_json_to_postgresql.conf (needs a
# live PostgreSQL container).


def _load_expectations():
    with open(f"{_RES}/mockserver-config.json") as f:
        text = "\n".join(l for l in f.read().splitlines()
                         if not l.strip().startswith("//"))
    return json.loads(text)


def _values(v):
    return v if isinstance(v, list) else [v]


@pytest.fixture(scope="module")
def mock_http_server():
    expectations = _load_expectations()

    class Handler(BaseHTTPRequestHandler):
        def _match(self, method):
            path, _, query = self.path.partition("?")
            qs = {k: v for k, v in parse_qs(query).items()}
            for e in expectations:
                req = e["httpRequest"]
                if req.get("method", "GET") != method or req.get("path") != path:
                    continue
                want_q = req.get("queryStringParameters") or {}
                if any(qs.get(k, []) != [str(x) for x in _values(v)]
                       for k, v in want_q.items()):
                    continue
                want_h = req.get("headers") or {}
                if any(self.headers.get(k) not in [str(x) for x in _values(v)]
                       for k, v in want_h.items()):
                    continue
                return e["httpResponse"]
            return None

        def _reply(self, method):
            resp = self._match(method)
            if resp is None:
                self.send_response(404)
                self.end_headers()
                return
            body = resp.get("body", "")
            # MockServer returns string bodies raw, JSON bodies serialized
            payload = (body if isinstance(body, str)
                       else json.dumps(body)).encode()
            self.send_response(int(resp.get("statusCode", 200)))
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_GET(self):
            self._reply("GET")

        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            self._reply("POST")

        def log_message(self, *args):
            pass

    server = HTTPServer(("127.0.0.1", 1080), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    old = os.environ.get("SEATUNNEL_SPARK_HOST_ALIASES")
    os.environ["SEATUNNEL_SPARK_HOST_ALIASES"] = "mockserver=127.0.0.1"
    yield server
    if old is None:
        os.environ.pop("SEATUNNEL_SPARK_HOST_ALIASES", None)
    else:
        os.environ["SEATUNNEL_SPARK_HOST_ALIASES"] = old
    server.shutdown()


@pytest.mark.parametrize(
    "conf", reference_params(HTTP_CONFS),
    ids=lambda c: os.path.basename(c),
)
def test_http_conf_against_reference_mock(spark, mock_http_server, conf):
    JobEngine(spark).run(JobSpec.from_file(conf))
