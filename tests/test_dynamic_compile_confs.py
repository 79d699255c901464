"""Run the reference's DynamicCompile e2e confs UNMODIFIED
(seatunnel-transforms-v2-e2e-part-2 resources/dynamic_compile —
TestDynamicCompileIT). The JAVA/GROOVY snippets follow the documented
inline protocol (getInlineOutputColumns + getInlineOutputFieldValues);
our transform interprets that subset into native Column expressions.

The ABSOLUTE_PATH confs reference /tmp/JavaFile and /tmp/GroovyFile —
the reference IT copies its source_file resources to those container
paths (TestDynamicCompileIT's withCopyFileToContainer); we do the same
copy into this host's /tmp.

The HTTP conf targets http://mockserver:1080/v1/compile; we replay the
suite's own mockserver-config.json expectations locally, remapped via
$SEATUNNEL_SPARK_HOST_ALIASES (the Docker-network analog)."""

import json
import os
import shutil
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from conftest import reference_params, reference_path
from seatunnel_spark.job.engine import JobEngine
from seatunnel_spark.job.spec import JobSpec

_RES = reference_path("seatunnel-e2e/seatunnel-transforms-v2-e2e/"
                      "seatunnel-transforms-v2-e2e-part-2/src/test/resources/dynamic_compile")

DYNAMIC_CONFS = [
    f"{_RES}/conf/single_dynamic_java_compile_transform.conf",
    f"{_RES}/conf/single_dynamic_java_compile_transform_compatible.conf",
    f"{_RES}/conf/single_dynamic_java_compile_transform_multi_table.conf",
    f"{_RES}/conf/single_dynamic_groovy_compile_transform.conf",
    f"{_RES}/conf/multiple_dynamic_java_compile_transform.conf",
    f"{_RES}/conf/multiple_dynamic_groovy_compile_transform.conf",
    f"{_RES}/conf/mixed_dynamic_groovy_java_compile_transform.conf",
    f"{_RES}/conf/single_java_path_compile.conf",
    f"{_RES}/conf/single_groovy_path_compile.conf",
    f"{_RES}/conf/single_dynamic_http_compile_transform.conf",
]


@pytest.fixture(scope="module")
def compile_fixtures():
    # ABSOLUTE_PATH sources at the paths the confs hardcode
    for name in ("JavaFile", "GroovyFile"):
        shutil.copyfile(f"{_RES}/source_file/{name}", f"/tmp/{name}")

    with open(f"{_RES}/conf/mockserver-config.json") as f:
        text = "\n".join(l for l in f.read().splitlines()
                         if not l.strip().startswith("//"))
    expectations = json.loads(text)

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            path = self.path.partition("?")[0]
            for e in expectations:
                if e["httpRequest"].get("path") == path:
                    body = e["httpResponse"].get("body", "")
                    payload = (body if isinstance(body, str)
                               else json.dumps(body)).encode()
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(payload)))
                    self.end_headers()
                    self.wfile.write(payload)
                    return
            self.send_response(404)
            self.end_headers()

        def log_message(self, *args):
            pass

    server = HTTPServer(("127.0.0.1", 1080), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    old = os.environ.get("SEATUNNEL_SPARK_HOST_ALIASES")
    os.environ["SEATUNNEL_SPARK_HOST_ALIASES"] = "mockserver=127.0.0.1"
    yield
    if old is None:
        os.environ.pop("SEATUNNEL_SPARK_HOST_ALIASES", None)
    else:
        os.environ["SEATUNNEL_SPARK_HOST_ALIASES"] = old
    server.shutdown()


@pytest.mark.parametrize(
    "conf", reference_params(DYNAMIC_CONFS),
    ids=lambda c: os.path.basename(c),
)
def test_dynamic_compile_conf(spark, compile_fixtures, conf):
    JobEngine(spark).run(JobSpec.from_file(conf))
