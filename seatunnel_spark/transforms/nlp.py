"""LLM + Embedding transforms — batched model inference over rows.

Reference: transform/nlpmodel/llm/LLMTransform.java:44 and
nlpmodel/embedding/EmbeddingTransform.java:47
(docs/en/transform-v2/llm.md, embedding.md): per-row inference against
a provider (OPENAI / KIMIAI / MICROSOFT / QIANFAN / DOUBAO / CUSTOM),
prompt + inference_columns -> output column.

Spark-native design: Arrow-batched ``mapInPandas`` so each Python
worker holds ONE http session and sends batched requests — at 100 TB
this is the only shape that works (per-row UDF would make 10^11 http
calls from the JVM boundary row by row).

OPENAI/CUSTOM (any OpenAI-compatible endpoint) are implemented with a
plain urllib POST in ``_call_provider`` — request construction is
unit-tested offline; a deterministic ``FAKE`` provider exists for
tests/pipelines; the remaining named providers raise with their
request shape documented.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, functions as F, types as T

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.transforms.base import Transform
from seatunnel_spark.types import parse_type

_REAL_PROVIDERS = ("OPENAI", "KIMIAI", "MICROSOFT", "QIANFAN", "DOUBAO", "CUSTOM")


_DEFAULT_PATHS = {
    "OPENAI": "https://api.openai.com/v1/chat/completions",
    "OPENAI_EMBED": "https://api.openai.com/v1/embeddings",
}


from seatunnel_spark.net import apply_host_aliases as _apply_host_aliases  # noqa: E402


def _post_json(url: str, api_key: str, body: dict,
               host_aliases: str | None = None,
               headers: dict | None = None) -> dict:
    from urllib.request import Request, urlopen

    req = Request(
        _apply_host_aliases(url, host_aliases),
        data=json.dumps(body).encode("utf-8"),
        headers=headers or {"Content-Type": "application/json",
                            "Authorization": f"Bearer {api_key}"},
        method="POST",
    )
    with urlopen(req, timeout=60) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _replace_placeholders(node, values: dict):
    """Deep ${model}/${prompt}/${input} substitution over a request-body
    template (CustomModel.replacePlaceholders, llm/remote/custom/
    CustomModel.java:118-147)."""
    if isinstance(node, dict):
        return {k: _replace_placeholders(v, values) for k, v in node.items()}
    if isinstance(node, list):
        return [_replace_placeholders(v, values) for v in node]
    if isinstance(node, str):
        for k, v in values.items():
            node = node.replace("${" + k + "}", v)
        return node
    return node


def _jsonpath_all(doc, path: str) -> list:
    """Tiny Jayway-subset JSONPath: $.a.b, [i], [*] — enough for the
    reference's custom_response_parse expressions."""
    import re as _re

    nodes = [doc]
    for name, idx in _re.findall(r"\.([^.\[]+)|\[(\*|\d+)\]",
                                 path.strip().lstrip("$")):
        nxt = []
        for nd in nodes:
            if name:
                if isinstance(nd, dict) and name in nd:
                    nxt.append(nd[name])
            elif idx == "*":
                if isinstance(nd, list):
                    nxt.extend(nd)
            elif isinstance(nd, list) and int(idx) < len(nd):
                nxt.append(nd[int(idx)])
        nodes = nxt
    return nodes


# The reference wraps the user prompt with array-protocol rules and
# parses the model's JSON-array reply, one element per row
# (AbstractModel.java:77-98: getPromptWithLimit / inference).
_PROMPT_RULES = (
    "\n The following rules need to be followed: "
    "\n 1. The received data is an array, and the result is returned in the form of an array."
    "\n 2. Only the result needs to be returned, and no other information can be returned."
    "\n 3. The element type of the array is {out_type}."
    '\n Eg: ["value1", "value2"]'
)


def _unpack_array_answer(content: str, out_type: str = "STRING") -> str:
    if out_type == "BOOLEAN":
        # AbstractModel.convertData:122-124 — models reply [True]/[False]
        # (not valid JSON); the reference lowercases before parsing.
        content = content.lower()
    try:
        arr = json.loads(content)
        if isinstance(arr, list) and arr:
            a = arr[0]
            return ("true" if a is True else "false" if a is False
                    else str(a))
    except (ValueError, TypeError):
        pass
    return content


def _get_json(url: str, host_aliases: str | None = None) -> dict:
    from urllib.request import urlopen

    with urlopen(_apply_host_aliases(url, host_aliases), timeout=60) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _embed_request(provider: str, api_path: str, api_key: str, model: str,
                   texts: list, extra: dict, host_aliases: str | None) -> list:
    """ONE embedding POST, per the reference's provider wire shapes."""
    if provider == "QIANFAN":
        # QianfanModel.java:92-135: oauth token as query param, model
        # appended to the path, body {"input": [...]}.
        token = extra.get("_token")
        url = (api_path.rstrip("/") + "/" + model
               + "?access_token=" + (token or ""))
        out = _post_json(url, "", {"input": texts}, host_aliases)
    elif provider == "DOUBAO":
        # DoubaoModel.java:66-103: bearer auth, {"model", "input"}.
        out = _post_json(api_path, api_key,
                         {"model": model, "input": texts}, host_aliases)
    else:  # OPENAI / CUSTOM OpenAI-compatible
        url = api_path or _DEFAULT_PATHS["OPENAI_EMBED"]
        out = _post_json(url, api_key,
                         {"model": model or "text-embedding-3-small",
                          "input": texts}, host_aliases)
    # Defensive truncate: mock/provider may return a fixed-size batch.
    return [d["embedding"] for d in out["data"]][: len(texts)]


def _call_provider(provider: str, api_path: str, api_key: str,
                   payloads: list[dict], model: str = "",
                   mode: str = "chat",
                   host_aliases: str | None = None,
                   extra: dict | None = None) -> list:
    """One batched provider call per Arrow batch. OPENAI and CUSTOM
    (OpenAI-compatible endpoint) are implemented with a plain urllib
    POST — request construction is unit-tested offline; in an
    airgapped environment this fails at connect time with the real
    URLError, not a stub error. Other providers raise with their
    request shape named. Swap the sequential loop for an async pool if
    per-call latency dominates (the mapInPandas batching already
    amortizes session setup)."""
    extra = extra or {}
    custom_cfg = extra.get("custom_config") or {}
    if provider == "CUSTOM" and custom_cfg:
        # CustomModel (llm/remote/custom/CustomModel.java:76-116,
        # embedding/.../custom/CustomModel.java:70-116): request body is
        # a user template with ${model}/${prompt}/${input} placeholders,
        # custom headers, response picked by a JSONPath expression.
        headers = {"Content-Type": "application/json",
                   **(custom_cfg.get("custom_request_headers") or {})}
        parse = custom_cfg.get("custom_response_parse", "$")
        template = custom_cfg.get("custom_request_body") or {}
        if mode == "embed":
            batch = max(int(extra.get("batch", 1)), 1)
            texts = [p["input"] for p in payloads]
            vecs: list = []
            for i in range(0, len(texts), batch):
                chunk = texts[i:i + batch]
                body = _replace_placeholders(
                    template, {"model": model,
                               "input": json.dumps(chunk, default=str)})
                out = _post_json(api_path, api_key, body, host_aliases,
                                 headers)
                vecs.extend(_jsonpath_all(out, parse)[: len(chunk)])
            return vecs
        answers = []
        for p in payloads:
            prompt_full = p["prompt"] + _PROMPT_RULES.format(
                out_type=p.get("out_type", "STRING"))
            body = _replace_placeholders(
                template, {"model": model, "prompt": prompt_full,
                           "input": json.dumps([p["input"]], default=str)})
            out = _post_json(api_path, api_key, body, host_aliases, headers)
            matches = _jsonpath_all(out, parse)
            answers.append(str(matches[0]) if matches else None)
        return answers
    if mode == "embed" and provider in ("OPENAI", "CUSTOM", "QIANFAN",
                                        "DOUBAO"):
        if provider == "QIANFAN":
            # One oauth round-trip per provider call (QianfanModel
            # .java:66-75: grant_type=client_credentials).
            extra = dict(extra)
            extra["_token"] = _get_json(
                f"{extra.get('oauth_path', '')}?grant_type=client_credentials"
                f"&client_id={api_key}&client_secret={extra.get('secret_key', '')}",
                host_aliases,
            )["access_token"]
        batch = max(int(extra.get("batch", 1)), 1)
        texts = [p["input"] for p in payloads]
        vecs: list = []
        for i in range(0, len(texts), batch):
            vecs.extend(_embed_request(provider, api_path, api_key, model,
                                       texts[i:i + batch], extra,
                                       host_aliases))
        return vecs
    if provider in ("OPENAI", "CUSTOM", "KIMIAI", "MICROSOFT"):
        # KIMIAI speaks the same bearer+model+messages shape
        # (KimiAIModel.java:88-95); MICROSOFT embeds the deployment in
        # the path (${model} substituted, MicrosoftModel.java:60-63)
        # and sends messages without a model key (:85-93).
        url = api_path or _DEFAULT_PATHS["OPENAI"]
        if provider == "MICROSOFT":
            url = url.replace("${model}", model)
        answers = []
        for p in payloads:
            # Reference protocol (AbstractModel.inference:90-98 + e2e
            # LLMRequestJsonTest): user content is a JSON ARRAY of row
            # objects; the system prompt appends the array-reply rules;
            # the reply content is a JSON array, one element per row
            # (here: exactly one — the reference infers per single row,
            # LLMTransform.java:143).
            body = {
                "model": model or "gpt-4o-mini",
                "messages": [
                    {"role": "system",
                     "content": p["prompt"] + _PROMPT_RULES.format(
                         out_type=p.get("out_type", "STRING"))},
                    {"role": "user",
                     "content": json.dumps([p["input"]], default=str)},
                ],
            }
            if provider == "MICROSOFT":
                body.pop("model")
            out = _post_json(url, api_key, body, host_aliases)
            answers.append(_unpack_array_answer(
                out["choices"][0]["message"]["content"],
                p.get("out_type", "STRING")))
        return answers
    raise NotImplementedError(
        f"provider {provider}: shape = POST {api_path or '<provider url>'} with "
        "bearer auth, body per provider docs (KIMIAI/MICROSOFT/QIANFAN/DOUBAO); "
        "use CUSTOM with api_path for any OpenAI-compatible endpoint"
    )


class LLMTransform(Transform):
    """Options (docs/en/transform-v2/llm.md): model_provider, model,
    prompt, output_data_type (default STRING), output_column_name
    (default llm_output), inference_columns, api_key, api_path."""

    NAME = "LLM"

    def apply(self, df: DataFrame) -> DataFrame:
        provider = str(self.require("model_provider")).upper()
        prompt = self.require("prompt")
        out_col = self.opt("output_column_name", "llm_output")
        out_type = parse_type(self.opt("output_data_type", "string"))
        infer_cols = self.opt("inference_columns") or df.columns
        # api_path fallback key "openai.api_path" (ModelTransformConfig
        # .java:62-66 withFallbackKeys)
        api_path = self.opt("api_path") or self.opt("openai.api_path", "")
        api_key = self.opt("api_key", "")
        model = str(self.opt("model", ""))
        out_type_name = str(self.opt("output_data_type", "STRING")).upper()
        custom_config = self.opt("custom_config")
        import os

        host_aliases = os.environ.get("SEATUNNEL_SPARK_HOST_ALIASES", "")

        out_schema = T.StructType(
            df.schema.fields + [T.StructField(out_col, out_type, True)]
        )

        def convert(ans):
            # LLMTransform.java:144-158: parse the string answer into
            # the declared output type.
            if ans is None:
                return None
            if out_type_name in ("INT", "INTEGER"):
                return int(ans)
            if out_type_name in ("BIGINT", "LONG"):
                return int(ans)
            if out_type_name == "DOUBLE":
                return float(ans)
            if out_type_name == "BOOLEAN":
                return str(ans).strip().lower() == "true"
            return str(ans)

        def run_batches(iterator):
            for pdf in iterator:
                payloads = [
                    {"prompt": prompt, "out_type": out_type_name,
                     "input": {c: row[c] for c in infer_cols}}
                    for _, row in pdf.iterrows()
                ]
                if provider == "FAKE":
                    # Deterministic fake: stable hash of prompt+input.
                    answers = [
                        hashlib.sha256(repr((prompt, p["input"])).encode()).hexdigest()[:16]
                        for p in payloads
                    ]
                else:
                    answers = _call_provider(
                        provider, api_path, api_key, payloads,
                        model=model, mode="chat",
                        host_aliases=host_aliases,
                        extra={"custom_config": custom_config})
                pdf[out_col] = [convert(a) for a in answers]
                yield pdf

        return map_in_pandas(df, run_batches, schema=out_schema)


class EmbeddingTransform(Transform):
    """Options (docs/en/transform-v2/embedding.md): model_provider, model,
    vectorization_fields {out_vec_col = text_col}, api_key, api_path,
    single_vectorized_input_number (batch size)."""

    NAME = "Embedding"

    def apply(self, df: DataFrame) -> DataFrame:
        provider = str(self.require("model_provider")).upper()
        vec_fields: dict = self.require("vectorization_fields")
        dim = int(self.opt("dimension", 8))
        api_path = self.opt("api_path", "")
        api_key = self.opt("api_key", "")
        model = str(self.opt("model", ""))
        extra = {
            "secret_key": self.opt("secret_key", ""),
            "oauth_path": self.opt("oauth_path", ""),
            "batch": self.opt("single_vectorized_input_number", 1),
            "custom_config": self.opt("custom_config"),
        }
        import os

        host_aliases = os.environ.get("SEATUNNEL_SPARK_HOST_ALIASES", "")

        out_schema = T.StructType(
            df.schema.fields
            + [
                T.StructField(out, T.ArrayType(T.FloatType()), True)
                for out in vec_fields
            ]
        )

        def embed_batches(iterator):
            import numpy as np

            for pdf in iterator:
                for out, src in vec_fields.items():
                    texts = pdf[src].astype(str).tolist()
                    if provider == "FAKE":
                        # Deterministic unit-norm vector from a text digest —
                        # same shape/latency profile as a real provider batch.
                        vecs = []
                        for t in texts:
                            h = hashlib.sha256(t.encode()).digest()
                            v = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4],
                                              dtype=np.uint32).astype(np.float64)
                            v = v / (np.linalg.norm(v) or 1.0)
                            vecs.append(v.astype(np.float32).tolist())
                    else:
                        vecs = _call_provider(
                            provider, api_path, api_key,
                            [{"input": t} for t in texts],
                            model=model, mode="embed",
                            host_aliases=host_aliases, extra=extra,
                        )
                    pdf[out] = vecs
                yield pdf

        return map_in_pandas(df, embed_batches, schema=out_schema)
