"""Job specification — the env/source/transform/sink model.

Reference: docs/en/concept/config.md:24-70 — a job is
  env { job.mode, parallelism, ... }
  source [ {plugin, options, plugin_output} ... ]
  transform [ {plugin, options, plugin_input, plugin_output} ... ]
  sink [ {plugin, options, plugin_input} ... ]
wired into a DAG by plugin_output/plugin_input names (deprecated
spellings result_table_name/source_table_name also accepted,
config.md:24).

Accepted inputs: a Python dict (canonical), a JSON file/string, or a
SQL config file (sql-config.md — see from_sql). The reference's HOCON
files map 1:1 onto the dict shape.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field


def _path_shaped(text: str) -> bool:
    """A one-line argument with no HOCON structure (braces, brackets,
    `=`, `:`, quotes) that names a file: it has a directory separator
    or a HOCON config-file extension."""
    return ("\n" not in text and not re.search(r'[{}\[\]=:"]', text)
            and ("/" in text or os.sep in text
                 or text.lower().endswith((".conf", ".hocon"))))


@dataclass
class Block:
    plugin: str
    options: dict
    inputs: list[str]
    output: str | None


@dataclass
class JobSpec:
    env: dict = field(default_factory=dict)
    sources: list[Block] = field(default_factory=list)
    transforms: list[Block] = field(default_factory=list)
    sinks: list[Block] = field(default_factory=list)

    @property
    def mode(self) -> str:
        return str(self.env.get("job.mode", "BATCH")).upper()

    @staticmethod
    def _parse_block(kind: str, plugin: str, opts: dict, default_input: str | None,
                     auto_idx: int) -> Block:
        opts = dict(opts)
        output = opts.pop("plugin_output", None) or opts.pop("result_table_name", None)
        inp = opts.pop("plugin_input", None) or opts.pop("source_table_name", None)
        inputs = inp if isinstance(inp, list) else ([inp] if inp else [])
        if not inputs and default_input and kind != "source":
            inputs = [default_input]
        if output is None and kind != "sink":
            output = f"__{kind}_{auto_idx}"
        return Block(plugin=plugin, options=opts, inputs=inputs, output=output)

    @classmethod
    def from_dict(cls, cfg: dict) -> "JobSpec":
        spec = cls(env=dict(cfg.get("env", {})))
        last_output: str | None = None
        for kind, target in (
            ("source", spec.sources),
            ("transform", spec.transforms),
            ("sink", spec.sinks),
        ):
            section = cfg.get(kind, [])
            # dict form {PluginName: {...}} or list form [{plugin_name:..., ...}]
            items: list[tuple[str, dict]] = []
            if isinstance(section, dict):
                items = list(section.items())
            else:
                for entry in section:
                    entry = dict(entry)
                    name = entry.pop("plugin_name", None)
                    if name is None and len(entry) == 1:
                        name, entry = next(iter(entry.items()))
                    items.append((name, entry))
            for i, (name, opts) in enumerate(items):
                blk = cls._parse_block(kind, name, opts, last_output, i)
                target.append(blk)
                if blk.output:
                    last_output = blk.output
        return spec

    @classmethod
    def from_hocon(cls, text_or_path: str, variables: dict | None = None) -> "JobSpec":
        """Parse a SeaTunnel-style HOCON job config (docs/en/concept/
        config.md). `variables` implements the `-i key=value` CLI
        substitution feature. A path-shaped argument that names no
        file raises FileNotFoundError rather than being parsed as
        HOCON text."""
        from seatunnel_spark.job.hocon import load_hocon, parse_hocon

        if "\n" not in text_or_path and os.path.exists(text_or_path):
            return cls.from_dict(load_hocon(text_or_path, variables))
        if _path_shaped(text_or_path):
            raise FileNotFoundError(
                f"job config file not found: {text_or_path!r}")
        return cls.from_dict(parse_hocon(text_or_path, variables))

    @classmethod
    def from_file(cls, path: str, variables: dict | None = None) -> "JobSpec":
        """Dispatch on extension: .conf/.hocon, .json, .sql (sql-config)."""
        if path.endswith(".json"):
            return cls.from_json(path)
        if path.endswith(".sql"):
            with open(path) as f:
                return cls.from_sql(f.read())
        return cls.from_hocon(path, variables)

    @classmethod
    def from_json(cls, text_or_path: str) -> "JobSpec":
        if "\n" not in text_or_path and text_or_path.endswith(".json"):
            with open(text_or_path) as f:
                return cls.from_dict(json.load(f))
        return cls.from_dict(json.loads(text_or_path))

    @classmethod
    def from_sql(cls, sql_text: str) -> "JobSpec":
        """SQL config format (reference: docs/en/concept/sql-config.md:11-46,
        SqlConfigBuilder.java:79,140): CREATE TABLE <name> WITH (...) defines
        sources/sinks ('type'='source'|'sink'); INSERT INTO <sink> SELECT ...
        becomes a Sql transform feeding the sink."""
        env: dict = {}
        m = re.search(r"/\*\s*config(.*?)\*/", sql_text, re.S)
        if m:
            for line in m.group(1).splitlines():
                kv = re.match(r"\s*([\w.]+)\s*=\s*(.+?)\s*$", line)
                if kv:
                    env[kv.group(1)] = kv.group(2).strip("\"'")
        tables: dict[str, dict] = {}
        def _maybe_hocon(v: str):
            # Structured option values ('schema'/'rules' in
            # fake_to_assert.sql) are HOCON blocks inside SQL quotes
            # (SqlConfigBuilder passes them through as strings and the
            # connector re-parses; we parse eagerly).
            if v.strip().startswith("{"):
                try:
                    from seatunnel_spark.job.hocon import parse_hocon

                    return parse_hocon("x = " + v)["x"]
                except Exception:
                    return v
            return v

        for name, opts_raw in re.findall(
            r"CREATE\s+TABLE\s+(\w+)\s+WITH\s*\((.*?)\)\s*;", sql_text, re.S | re.I
        ):
            opts = {k: _maybe_hocon(v) for k, v in
                    re.findall(r"'([^']+)'\s*=\s*'([^']*)'", opts_raw, re.S)}
            tables[name] = opts
        cfg: dict = {"env": env, "source": [], "transform": [], "sink": []}
        for name, opts in tables.items():
            if opts.get("type", "source") == "source":
                block = {
                    "plugin_name": opts.get("connector", "FakeSource"),
                    **{k: v for k, v in opts.items() if k not in ("connector", "type")},
                    "plugin_output": name,
                }
                cfg["source"].append(block)
        m = re.search(
            r"INSERT\s+INTO\s+(\w+)\s+(SELECT .*?);", sql_text, re.S | re.I
        )
        if not m:
            raise ValueError("SQL config requires INSERT INTO <sink> SELECT ...")
        sink_name, select = m.group(1), m.group(2)
        sink_opts = tables.get(sink_name, {"connector": "Console"})
        cfg["transform"].append(
            {"plugin_name": "Sql", "query": select, "plugin_output": "__sql_result"}
        )
        cfg["sink"].append(
            {
                "plugin_name": sink_opts.get("connector", "Console"),
                **{k: v for k, v in sink_opts.items() if k not in ("connector", "type")},
                "plugin_input": "__sql_result",
            }
        )
        return cls.from_dict(cfg)
