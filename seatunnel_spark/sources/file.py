"""File sources — 10 filesystem backends × 8 read formats.

Reference: connector-file/connector-file-base read strategies
(ParquetReadStrategy.java, TextReadStrategy.java, ...; SURVEY.md §2.4):
LocalFile/HdfsFile/S3File/OssFile/OssJindoFile/CosFile/ObsFile/
FtpFile/SftpFile (+ Hive) each reading Text/Csv/Json/Orc/Parquet/
Excel/Xml/Binary.

Spark-native design: ONE source class; the backend only determines the
path scheme (file:// hdfs:// s3a:// oss:// cosn:// obs:// — hadoop
FileSystem handles each given the right jars), and the format maps to
a native DataFrameReader format. Predicate pushdown, column pruning,
partition discovery, and split planning all come from the Spark file
source — the parts the reference hand-rolls in *ReadStrategy.java.
"""

from __future__ import annotations

import glob
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

from seatunnel_spark._pyworker import map_in_pandas
from seatunnel_spark.sources.base import Source
from seatunnel_spark.types import parse_schema

FILE_SOURCE_NAMES = [
    "LocalFile", "HdfsFile", "S3File", "OssFile", "OssJindoFile",
    "CosFile", "ObsFile", "FtpFile", "SftpFile", "Hive",
]

_SCHEMES = {
    "LocalFile": "", "HdfsFile": "", "S3File": "s3a://", "OssFile": "oss://",
    "OssJindoFile": "oss://", "CosFile": "cosn://", "ObsFile": "obs://",
    "FtpFile": "ftp://", "SftpFile": "sftp://", "Hive": "",
}

# file_format_type (docs/en/connector-v2/source/LocalFile.md) -> Spark format
_FORMATS = {
    "parquet": "parquet",
    "orc": "orc",
    "json": "json",
    "csv": "csv",
    "text": "text",
    "binary": "binaryFile",
    "xml": "xml",       # native in Spark 4
    "excel": None,      # decoded by formats/excel.py (stdlib codecs)
}


def resolve_path_aliases(path: str) -> str:
    """$SEATUNNEL_SPARK_PATH_ALIASES="/seatunnel/read=/data/x,/tmp/a=/y"
    remaps path PREFIXES — the volume-mount analog, so job configs
    written for a container filesystem (the reference's e2e confs read
    /seatunnel/read/...) run unmodified outside it. Longest prefix
    wins; driver-side only (Spark resolves file paths on the driver)."""
    aliases = os.environ.get("SEATUNNEL_SPARK_PATH_ALIASES", "")
    if not aliases:
        return path
    pairs = sorted(
        (kv.split("=", 1) for kv in aliases.split(",") if "=" in kv),
        key=lambda kv: -len(kv[0]),
    )
    for prefix, target in pairs:
        if path == prefix or path.startswith(prefix.rstrip("/") + "/"):
            return target + path[len(prefix):]
    return path


def _local_files(path: str) -> list[tuple[str, int, int, int]]:
    """(path, size, st_mtime_ns, inode) of every file the local path or
    glob `path` names, directories walked recursively, sorted; empty
    when nothing matches. An entry that cannot be stat-ed (a dangling
    link) is still listed, with size -1."""
    out = []
    for m in glob.glob(path):
        if os.path.isfile(m):
            names = [m]
        else:
            names = [os.path.join(r, n) for r, _d, ns in os.walk(m)
                     for n in ns]
        for name in names:
            try:
                st = os.stat(name)
            except OSError:
                out.append((name, -1, 0, 0))
            else:
                out.append((name, st.st_size, st.st_mtime_ns, st.st_ino))
    return sorted(out)


# Inferring a parquet/orc schema reads file footers, and for parquet
# Spark runs a job for it even when it reads one footer. A read of
# unchanged inputs gets the schema the previous read inferred.
_SCHEMA_CACHE_SIZE = 256
_schema_cache: OrderedDict = OrderedDict()
_schema_lock = threading.Lock()


def read_files(spark: SparkSession, fmt: str, path: str,
               options: dict | None = None, schema=None,
               files: list | None = None) -> DataFrame:
    """spark.read.format(fmt).options(**options).load(path), with the
    schema of a parquet or orc read without a declared `schema` reused
    from an earlier read of the same inputs. The cache key is the
    format, the path, the options, the session's SQL conf and the
    listing of the files (path, size, mtime, inode), so a rewritten,
    added or removed file or a changed conf infers again. Remote and
    glob paths (Hadoop glob characters), and formats whose inference
    scans the data (csv, json), always infer. `files` is
    `_local_files(path)` when the caller already has it."""
    options = options or {}
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        return reader.schema(schema).load(path)
    if fmt not in ("parquet", "orc") or "://" in path \
            or any(c in path for c in "*?[{"):
        return reader.load(path)
    if files is None:
        files = _local_files(path)
    if not files:  # not a local path this process can list
        return reader.load(path)
    key = (fmt, path, tuple(sorted((k, str(v)) for k, v in options.items())),
           spark._jsparkSession.conf().getAll().toString(), tuple(files))
    with _schema_lock:
        cached = _schema_cache.get(key)
        if cached is not None:
            _schema_cache.move_to_end(key)
    if cached is not None:
        return reader.schema(cached).load(path)
    df = reader.load(path)
    with _schema_lock:
        _schema_cache[key] = df.schema
        while len(_schema_cache) > _SCHEMA_CACHE_SIZE:
            _schema_cache.popitem(last=False)
    return df


# Hive-style nested separators (TextFormatConstant.SEPARATOR; the CSV
# format uses the same ladder, CsvFormatConstant.SEPARATOR):
# level 0 = fields, 1 = array elements / map entries, 2 = map k/v, ...
_TEXT_SEPARATORS = ["\x01", "\x02", "\x03", "\x04", "\x05", "\x06", "\x07"]

# zip/tar containers Hadoop has no codec for; gz/bzip2 the native
# readers decompress by extension.
_ARCHIVES = {"zip", "tar", "tar_gz", "lzo"}

# charsets the JVM json/csv readers+writers accept (JSONOptions);
# anything else (gbk, ...) goes through the Python decode path.
_JVM_CHARSETS = {"utf8", "ascii", "usascii", "iso88591",
                 "utf16", "utf16be", "utf16le", "utf32"}


def _text_decode(col, dt, level: int, null_format: str | None,
                 fmts: dict | None = None):
    """Declarative analog of TextDeserializationSchema.convert
    (seatunnel-format-text/.../TextDeserializationSchema.java:225-352):
    nested splits by level separators (REGEX, like Java String.split),
    blank -> null, bytes = UTF-8; date/datetime honor the reference's
    date_format/datetime_format reader options."""
    from pyspark.sql import functions as F, types as T

    if isinstance(dt, T.ArrayType):
        parts = F.split(col, _TEXT_SEPARATORS[level + 1], -1)
        return F.when(col.isNull() | (F.trim(col) == ""), F.lit(None)).otherwise(
            F.transform(
                parts, lambda e: _text_decode(e, dt.elementType, level + 1,
                                              null_format, fmts))
        )
    if isinstance(dt, T.MapType):
        entries = F.split(col, _TEXT_SEPARATORS[level + 1], -1)

        def entry(e):
            kv = F.split(e, _TEXT_SEPARATORS[level + 2], -1)
            return F.struct(
                _text_decode(F.get(kv, 0), dt.keyType, level + 1,
                             null_format, fmts).alias("key"),
                _text_decode(F.get(kv, 1), dt.valueType, level + 1,
                             null_format, fmts).alias("value"),
            )

        return F.when(col.isNull() | (F.trim(col) == ""), F.lit(None)).otherwise(
            F.map_from_entries(F.transform(entries, entry))
        )
    if isinstance(dt, T.StructType):
        parts = F.split(col, _TEXT_SEPARATORS[level + 1], -1)
        return F.when(col.isNull() | (F.trim(col) == ""), F.lit(None)).otherwise(
            F.struct(*[
                _text_decode(F.get(parts, i), f.dataType, level + 1,
                             null_format, fmts).alias(f.name)
                for i, f in enumerate(dt.fields)
            ])
        )
    is_null = col.isNull() | (F.trim(col) == "")
    if null_format is not None:
        is_null = is_null | (col == F.lit(null_format))
    fmts = fmts or {}
    if isinstance(dt, T.NullType):
        return F.lit(None)  # declared "null" type: always null
    if isinstance(dt, T.BinaryType):
        conv = F.encode(col, "UTF-8")  # :308 field.getBytes(UTF_8)
    elif isinstance(dt, T.TimestampType) and fmts.get("datetime"):
        conv = F.to_timestamp(col, fmts["datetime"])
    elif isinstance(dt, T.DateType) and fmts.get("date"):
        conv = F.to_date(col, fmts["date"])
    else:
        conv = col.cast(dt)
    return F.when(is_null, F.lit(None)).otherwise(conv)


def _read_archive_lines(spark, path: str, codec: str, encoding: str):
    """zip/tar/tar.gz reading (BaseSourceConfigOptions
    ARCHIVE_COMPRESS_CODEC; LocalFileIT packs e2e fixtures this way).
    These containers are non-splittable, so the parallelism unit is one
    archive — binaryFile scan + mapInPandas unpack keeps decompression
    on the executors (a directory of many archives fans out across the
    cluster; no driver bottleneck)."""
    import pandas as pd

    def unpack(batches):
        import io
        import tarfile
        import zipfile

        for pdf in batches:
            for data in pdf["content"]:
                bio = io.BytesIO(bytes(data))
                if codec == "zip":
                    with zipfile.ZipFile(bio) as zf:
                        blobs = [zf.read(n) for n in zf.namelist()
                                 if not n.endswith("/")]
                elif codec == "lzo":
                    from seatunnel_spark.formats.lzo import lzop_decompress

                    blobs = [lzop_decompress(bytes(data))]
                else:
                    mode = "r:gz" if codec == "tar_gz" else "r:"
                    with tarfile.open(fileobj=bio, mode=mode) as tf:
                        blobs = [tf.extractfile(m).read()
                                 for m in tf.getmembers() if m.isfile()]
                lines: list[str] = []
                for blob in blobs:
                    lines.extend(blob.decode(encoding).splitlines())
                yield pd.DataFrame({"value": lines})

    return map_in_pandas(
        spark.read.format("binaryFile").load(path).select("content"),
        unpack, "value string")


# schema {} keys that are catalog metadata, not field declarations
# (schema-feature.md: table/comment/primaryKey/constraintKeys/columns)
_SCHEMA_META_KEYS = {"table", "comment", "primaryKey", "primary_key",
                     "constraintKeys", "constraint_keys", "columns"}


def _schema_fields(schema_opt) -> dict | None:
    """The declared field dict, or None when schema{} only carries
    catalog metadata (multipletable confs declare `schema { table =
    "fake01" }` with no fields — self-describing formats)."""
    if not isinstance(schema_opt, dict):
        return None
    if "fields" in schema_opt:
        return schema_opt["fields"]
    fields = {k: v for k, v in schema_opt.items()
              if k not in _SCHEMA_META_KEYS}
    return fields or None


class FileSource(Source):
    NAME = "LocalFile"

    def _path(self) -> str:
        path = resolve_path_aliases(self.require("path"))
        scheme = _SCHEMES.get(self.plugin_name, "")
        if scheme and "://" not in path:
            path = scheme + path.lstrip("/") if scheme.endswith("//") else scheme + path
        return path

    def _files(self) -> list | None:
        """`_local_files` of the source path; None for a remote path or
        a Hive table read. One walk serves the empty-input check, the
        .lzo suffix probe and the schema cache key."""
        if self.plugin_name == "Hive" and self.opt("table_name"):
            return None
        p = self._path()
        return None if "://" in p else _local_files(p)

    def _read_spec(self) -> tuple[str, object, dict]:
        """(Spark format, declared schema or None, reader options) of a
        plain DataFrameReader read of this source."""
        fmt = str(self.opt("file_format_type", "parquet")).lower()
        if fmt not in _FORMATS:
            raise ValueError(f"unknown file_format_type {fmt!r}")
        spark_fmt = _FORMATS[fmt]
        if spark_fmt is None:
            raise NotImplementedError(
                "excel streaming read is not supported; use batch mode"
            )
        fields_opt = _schema_fields(self.opt("schema"))
        options = {}
        if fmt == "csv":
            options["header"] = (self.opt("skip_header_row_number", 0) != 0
                                 or str(self.opt("header", "true")))
            options["sep"] = self.opt("field_delimiter", ",")
            if not fields_opt:
                options["inferSchema"] = "true"
        if fmt == "xml":
            options["rowTag"] = self.opt("xml_row_tag", "row")
        if self.opt("encoding") and fmt in ("json", "csv"):
            options["encoding"] = str(self.opt("encoding"))
        options.update(self.opt("options") or {})
        schema = parse_schema(fields_opt) if fields_opt else None
        return spark_fmt, schema, options

    def _reader(self, reader):
        spark_fmt, schema, options = self._read_spec()
        if schema is not None:
            reader = reader.schema(schema)
        return reader.format(spark_fmt).options(**options)

    def _time_fmts(self) -> dict:
        # BaseSourceConfigOptions date/time read formats
        # (local_file_time_format_assert.conf: datetime_format =
        # "yyyy-MM-dd'T'HH:mm:ss"); Spark shares the Java patterns.
        return {"datetime": self.opt("datetime_format"),
                "date": self.opt("date_format"),
                "time": self.opt("time_format")}

    def _skip_headers(self, raw: DataFrame, skip: int) -> DataFrame:
        """Per-FILE header skip (CsvReadStrategy.java:102 .skip(N)):
        rank rows within each file by read order. The window shuffle is
        acceptable — headered files are small by nature (the scale path
        is headerless data or CSV header=true, which skips in the scan)."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        raw = (raw.withColumn("_f", F.input_file_name())
               .withColumn("_i", F.monotonically_increasing_id()))
        w = Window.partitionBy("_f").orderBy("_i")
        return (raw.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") > skip).drop("_f", "_i", "_rn"))

    def read(self, spark: SparkSession) -> DataFrame:
        tables_configs = self.opt("tables_configs")
        if tables_configs:
            # Multi-table file read (local_file_json_to_assert_with_
            # multipletable.conf): one source block declares N tables;
            # the engine routes by table id.
            out: dict[str, DataFrame] = {}
            for tc in tables_configs:
                sub = {k: v for k, v in self.options.items()
                       if k != "tables_configs"}
                sub.update(tc)
                child = type(self)(sub)
                child.plugin_name = self.plugin_name
                tid = (tc.get("schema") or {}).get("table") or f"table{len(out)}"
                out[tid] = child.read(spark)
            return out
        if self.plugin_name == "S3File" and self.opt("access_key") \
                and (self.opt("fs.s3a.endpoint") or self.opt("endpoint")):
            # S3 read over the REST wire (SigV4, stdlib) staged into a
            # local spool — same shape as the FTP path; production runs
            # spark.read over s3a:// with hadoop-aws (see s3_fs doc).
            import atexit
            import shutil
            import tempfile

            from seatunnel_spark import s3_fs

            spool = tempfile.mkdtemp(prefix="st_s3_src_")
            try:
                s3_fs.fetch_tree(self.options, str(self.require("path")),
                                 spool)
            except Exception:
                shutil.rmtree(spool, ignore_errors=True)
                raise
            sub = dict(self.options)
            sub["path"] = spool
            child = type(self)(sub)
            child.plugin_name = "LocalFile"
            df = child.read(spark)
            atexit.register(shutil.rmtree, spool, ignore_errors=True)
            return df
        if self.plugin_name in ("OssFile", "OssJindoFile", "ObsFile") \
                and self.opt("access_key") is not None \
                and (self.opt("endpoint") or self.opt("fs.oss.endpoint")):
            # OSS read over the REST wire (HMAC-SHA1, stdlib) — same
            # spool shape as S3/FTP (see oss_fs module doc)
            import atexit
            import shutil
            import tempfile

            from seatunnel_spark import oss_fs

            spool = tempfile.mkdtemp(prefix="st_oss_src_")
            prefix = "OBS" if self.plugin_name == "ObsFile" else "OSS"
            try:
                oss_fs.fetch_tree(self.options, str(self.require("path")),
                                  spool, auth_prefix=prefix)
            except Exception:
                shutil.rmtree(spool, ignore_errors=True)
                raise
            sub = dict(self.options)
            sub["path"] = spool
            child = type(self)(sub)
            child.plugin_name = "LocalFile"
            df = child.read(spark)
            atexit.register(shutil.rmtree, spool, ignore_errors=True)
            return df
        if self.plugin_name == "CosFile" and self.opt("secret_id") \
                and self.opt("region"):
            # COS read over the REST wire (q-sign auth, stdlib) — same
            # spool shape as S3/OSS/FTP (see cos_fs module doc)
            import atexit
            import shutil
            import tempfile

            from seatunnel_spark import cos_fs

            spool = tempfile.mkdtemp(prefix="st_cos_src_")
            try:
                cos_fs.fetch_tree(self.options, str(self.require("path")),
                                  spool)
            except Exception:
                shutil.rmtree(spool, ignore_errors=True)
                raise
            sub = dict(self.options)
            sub["path"] = spool
            child = type(self)(sub)
            child.plugin_name = "LocalFile"
            df = child.read(spark)
            atexit.register(shutil.rmtree, spool, ignore_errors=True)
            return df
        if self.plugin_name in ("FtpFile", "SftpFile") and self.opt("host"):
            # FTP/SFTP read = stage the remote tree into a local spool
            # over the real wire (stdlib ftplib / the ssh_wire SFTP v3
            # client vs the reference's commons-net FTPClient / JSch
            # ChannelSftp), then the normal local read paths do the
            # format work. See ftp_fs module doc for the single-server
            # scale rationale.
            import shutil
            import tempfile

            if self.plugin_name == "SftpFile":
                from seatunnel_spark import sftp_fs as remote_fs
            else:
                from seatunnel_spark import ftp_fs as remote_fs

            spool = tempfile.mkdtemp(prefix="st_ftp_src_")
            try:
                remote_fs.fetch_tree(
                    self.options, str(self.require("path")), spool)
            except Exception:
                shutil.rmtree(spool, ignore_errors=True)
                raise
            sub = dict(self.options)
            sub["path"] = spool
            child = type(self)(sub)
            child.plugin_name = "LocalFile"
            df = child.read(spark)
            # spool lives until the job ends; files are lazily read by
            # Spark tasks, so defer cleanup to interpreter exit
            import atexit

            atexit.register(shutil.rmtree, spool, ignore_errors=True)
            return df
        # Hive reads metastore tables (docs/en/connector-v2/source/Hive.md
        # `table_name = db.tbl`); file backends read paths.
        fmt = str(self.opt("file_format_type", "parquet")).lower()
        fields_opt = _schema_fields(self.opt("schema"))
        files = self._files()
        if self.plugin_name != "Hive" and files == []:
            # Empty/missing directory reads produce an empty result
            # (LocalFileIT.java:350-353 "test read empty directory"),
            # not a scan error.
            from pyspark.sql import types as T

            schema = (parse_schema(fields_opt) if fields_opt
                      else T.StructType([]))
            return spark.createDataFrame([], schema)
        codec = str(self.opt("archive_compress_codec", "none")).lower()
        if str(self.opt("compress_codec", "")).lower() == "lzo":
            # lzop-framed text/json (compress_codec = "lzo"): Hadoop has
            # no builtin codec either — the stdlib LZO1X decompressor
            # rides the same executor-side unpack path as zip/tar
            codec = "lzo"
        elif codec in ("", "none") and fmt in ("text", "json", "csv"):
            # Hadoop's CompressionCodecFactory picks the codec from the
            # file suffix regardless of conf; the reference read confs
            # never declare compress_codec even when the paired sink conf
            # wrote .lzo parts (TextReadStrategy.java:83-94 defaults to
            # NONE, making the reference pair latent-broken). Suffix
            # detection is the behavior a user actually wants. Remote
            # paths declare compress_codec explicitly.
            if any(f[0].endswith(".lzo") for f in files or ()):
                codec = "lzo"
        encoding = str(self.opt("encoding", "utf-8"))
        skip = int(self.opt("skip_header_row_number", 0) or 0)
        if self.plugin_name == "Hive" and self.opt("table_name"):
            if self.opt("kerberos_principal"):
                # real AS exchange before the catalog read (the
                # HiveMetaStoreProxy.loginUserFromKeytab analog)
                from seatunnel_spark import krb5 as _krb

                _krb.kinit(str(self.require("kerberos_principal")),
                           str(self.require("kerberos_keytab_path")),
                           str(self.opt("krb5_path", "/etc/krb5.conf")))
            df = spark.table(self.opt("table_name"))
        elif fmt == "text" and fields_opt:
            # The reference's TEXT format: one line per row, fields
            # joined by field_delimiter (default \x01), nested types by
            # the deeper Hive separators (TextReadStrategy).
            from pyspark.sql import functions as F

            from seatunnel_spark.types import parse_schema as _ps

            schema = _ps(fields_opt)
            delim = str(self.opt("field_delimiter",
                                 self.opt("delimiter", _TEXT_SEPARATORS[0])))
            null_format = self.opt("null_format")
            if codec in _ARCHIVES:
                raw = _read_archive_lines(spark, self._path(), codec, encoding)
            elif encoding.replace("-", "").lower() not in ("utf8", "ascii"):
                # Spark's text scan is UTF-8-only; non-UTF8 charsets
                # (e2e_gbk.txt) decode per whole file on the executors.
                import pandas as pd

                def decode_lines(batches):
                    for pdf in batches:
                        for data in pdf["content"]:
                            yield pd.DataFrame(
                                {"value": bytes(data).decode(encoding)
                                 .splitlines()})

                raw = map_in_pandas(
                    spark.read.format("binaryFile").load(self._path())
                    .select("content"),
                    decode_lines, "value string")
            else:
                # gz/bzip2 decompress by extension in the native reader.
                raw = spark.read.text(self._path())
            if skip:
                raw = self._skip_headers(raw, skip)
            # field_delimiter is a Java regex (the reference does
            # String.split(delimiter) — delimiter "\\|" means a
            # literal pipe, local_file_delimiter_assert.conf:70).
            cols = F.split(F.col("value"), delim, -1)
            # Hive-style partition dirs (name=x/hobby=y) surface as
            # row fields, like the reference's parse_partition_from_path
            partition_cols = [c for c in raw.columns if c != "value"]
            df = raw.select(*[
                _text_decode(F.get(cols, i), f.dataType, 0,
                             null_format, self._time_fmts()).alias(f.name)
                for i, f in enumerate(schema.fields)
            ], *partition_cols)
        elif fmt == "csv" and fields_opt:
            # Reference CSV = the TEXT nested codec with commons-csv
            # quoting at the top level (CsvSerializationSchema.java:
            # 158-175 convert, :228-243 MINIMAL quoting). Top-level
            # parse goes to Spark's native CSV scan (quote handling,
            # header skip, pushdown); nested fields decode by the same
            # separator ladder.
            from pyspark.sql import functions as F, types as T

            from seatunnel_spark.types import parse_schema as _ps

            schema = _ps(fields_opt)
            str_schema = T.StructType(
                [T.StructField(f.name, T.StringType()) for f in schema.fields])
            reader = (spark.read.schema(str_schema)
                      .option("sep", str(self.opt("field_delimiter", ",")))
                      .option("quote", '"').option("escape", '"')
                      .option("encoding", encoding)
                      # header=true + explicit schema drops the first
                      # line of EACH file — the reference's per-file
                      # .skip(N) for the common N=1.
                      .option("header", "true" if skip else "false"))
            for k, v in (self.opt("options") or {}).items():
                reader = reader.option(k, v)
            raw = reader.csv(self._path())
            if skip > 1:
                raw = self._skip_headers(raw, skip - 1)
            df = raw.select(*[
                _text_decode(F.col(f.name), f.dataType, 0,
                             self.opt("null_format"),
                             self._time_fmts()).alias(f.name)
                for f in schema.fields
            ])
        elif fmt in ("parquet", "orc") and fields_opt:
            # Self-describing formats: the declared schema is a CAST
            # over the physical one, not a parse contract — the
            # reference re-types values on read (local_file_orc_to_
            # assert_with_time_and_cast.conf: smallint->bigint,
            # float->string, timestamp->time). Column pruning still
            # reaches the scan; casts run in codegen.
            from pyspark.sql import functions as F

            from seatunnel_spark.types import parse_schema as _ps

            from pyspark.sql import types as T

            schema = _ps(fields_opt)
            df = read_files(spark, fmt, self._path(), files=files)
            phys = {f.name: f.dataType for f in df.schema.fields}

            def cast_to(name, dst):
                src = phys.get(name)
                if (hasattr(T, "TimeType") and isinstance(dst, T.TimeType)
                        and isinstance(src, (T.TimestampType,
                                             T.TimestampNTZType))):
                    # No direct timestamp->time cast; go through the
                    # clock string (the reference's toLocalTime()).
                    return F.date_format(F.col(name),
                                         "HH:mm:ss.SSSSSS").cast(dst)
                return F.col(name).cast(dst)

            declared = {f.name for f in schema.fields}
            extra = [c for c in df.columns if c not in declared]
            df = df.select(*[
                cast_to(f.name, f.dataType).alias(f.name)
                for f in schema.fields
            ], *extra)
        elif fmt == "json" and fields_opt and (
                codec in _ARCHIVES
                or encoding.replace("-", "").lower() not in _JVM_CHARSETS):
            # JSON-lines inside zip/tar archives, or in a charset the
            # JVM JSON reader rejects (gbk): distributed unpack/decode,
            # then the same JVM-side from_json the plain path uses.
            from pyspark.sql import functions as F

            from seatunnel_spark.types import parse_schema as _ps

            schema = _ps(fields_opt)
            if codec in _ARCHIVES:
                raw = _read_archive_lines(spark, self._path(), codec, encoding)
            else:
                import pandas as pd

                def decode_lines(batches):
                    for pdf in batches:
                        for data in pdf["content"]:
                            yield pd.DataFrame(
                                {"value": bytes(data).decode(encoding)
                                 .splitlines()})

                raw = map_in_pandas(
                    spark.read.format("binaryFile").load(self._path())
                    .select("content"),
                    decode_lines, "value string")
            df = raw.select(F.from_json("value", schema).alias("r")).select("r.*")
        elif fmt == "xml" and fields_opt:
            # Reference XML rows carry values as attributes
            # (xml_use_attr_format) with maps/arrays JSON-encoded
            # (XmlReadStrategy): read every declared field as STRING,
            # then cast / from_json to the declared types (TIME
            # included — Spark's XML reader can't take TimeType).
            from pyspark.sql import functions as F, types as T

            from seatunnel_spark.types import parse_schema as _ps

            schema = _ps(fields_opt)
            str_schema = T.StructType(
                [T.StructField(f.name, T.StringType()) for f in schema.fields])
            reader = spark.read.schema(str_schema) \
                .option("rowTag", self.opt("xml_row_tag", "RECORD"))
            if self.opt("xml_use_attr_format"):
                reader = reader.option("attributePrefix", "")
            for k, v in (self.opt("options") or {}).items():
                reader = reader.option(k, v)
            xml_path = self._path()
            if codec in _ARCHIVES:
                # zip/tar XML (local_file_zip_xml_to_assert.conf): the
                # JVM xml reader has no archive codec — unpack the
                # bounded archive fixtures to a spool first (gz/bzip2
                # decompress natively by extension)
                import atexit
                import io
                import shutil
                import tarfile
                import tempfile
                import zipfile

                spool = tempfile.mkdtemp(prefix="st_xml_arch_")
                atexit.register(shutil.rmtree, spool, ignore_errors=True)
                hits = [p for p in glob.glob(xml_path)
                        if os.path.isfile(p)] or [
                    os.path.join(r, n)
                    for r, _d, ns in os.walk(xml_path) for n in ns]
                for k, apath in enumerate(hits):
                    with open(apath, "rb") as fh:
                        bio = io.BytesIO(fh.read())
                    if codec == "zip":
                        with zipfile.ZipFile(bio) as zf:
                            for nm in zf.namelist():
                                if nm.endswith("/"):
                                    continue
                                with open(os.path.join(
                                        spool, f"{k}_{os.path.basename(nm)}"
                                ), "wb") as out:
                                    out.write(zf.read(nm))
                    else:
                        mode = "r:gz" if codec == "tar_gz" else "r:"
                        with tarfile.open(fileobj=bio, mode=mode) as tf:
                            for mem in tf.getmembers():
                                if mem.isfile():
                                    with open(os.path.join(
                                            spool,
                                            f"{k}_{os.path.basename(mem.name)}"
                                    ), "wb") as out:
                                        out.write(
                                            tf.extractfile(mem).read())
                xml_path = spool
            raw = reader.format("xml").load(xml_path)
            # partition-dir columns (name=...) discovered beyond the
            # declared schema ride along (the sftp/ftp xml assert confs
            # check them)
            part_cols = [c for c in raw.columns
                         if c not in {f.name for f in schema.fields}]
            df = raw.select(*[
                (F.from_json(F.col(f.name), f.dataType)
                 if isinstance(f.dataType, (T.MapType, T.ArrayType,
                                            T.StructType))
                 else F.col(f.name).cast(f.dataType)).alias(f.name)
                for f in schema.fields
            ], *part_cols)
        elif fmt == "excel":
            # Excel is non-splittable — one file per task is the
            # parallelism unit (same as the reference's file-per-reader
            # model, ExcelReadStrategy.java). binaryFile scan fans a
            # directory of workbooks across the cluster; decode runs
            # executor-side via the stdlib codecs in formats/excel.py.
            import pandas as pd
            from pyspark.sql import functions as F, types as T

            from seatunnel_spark.formats.excel import (convert_cell,
                                                       read_excel)
            from seatunnel_spark.types import parse_schema as _ps

            if not fields_opt:
                raise ValueError(
                    "excel read requires schema.fields "
                    "(ExcelReadStrategy.getSeaTunnelRowTypeInfo)")
            schema = _ps(fields_opt)
            sheet = self.opt("sheet_name")
            delim = str(self.opt("field_delimiter", ","))
            fmts = self._time_fmts()
            pattern = self.opt("file_filter_pattern")
            read_cols = self.opt("read_columns")
            # column projection = index select on the declared row type
            # (ExcelReadStrategy.setCatalogTable)
            fields = ([next(f for f in schema.fields if f.name == c)
                       for c in read_cols] if read_cols else schema.fields)
            out_schema = T.StructType(list(fields))
            raw = spark.read.format("binaryFile").load(self._path())
            part_cols = [c for c in raw.columns
                         if c not in ("path", "modificationTime",
                                      "length", "content")]
            for pc in part_cols:
                out_schema = out_schema.add(pc, T.StringType())
            raw = raw.select("path", "content", *part_cols)
            if pattern:
                # Pattern.matcher(fileName).matches() — full match on
                # the basename (AbstractReadStrategy.filterFileByPattern)
                raw = raw.filter(F.regexp_extract(
                    F.element_at(F.split("path", "/"), -1),
                    f"^(?:{pattern})$", 0) != "")

            names = [f.name for f in fields]
            dtypes = [f.dataType for f in fields]

            def decode(batches):
                import gzip as _gz
                import io as _io
                import tarfile as _tar
                import zipfile as _zip

                for pdf in batches:
                    for i in range(len(pdf)):
                        data = bytes(pdf["content"].iloc[i])
                        fname = str(pdf["path"].iloc[i])
                        if codec == "zip":
                            with _zip.ZipFile(_io.BytesIO(data)) as zf:
                                blobs = [zf.read(n) for n in zf.namelist()
                                         if not n.endswith("/")]
                        elif codec in ("tar", "tar_gz"):
                            mode = "r:gz" if codec == "tar_gz" else "r:"
                            with _tar.open(fileobj=_io.BytesIO(data),
                                           mode=mode) as tf:
                                blobs = [tf.extractfile(m).read()
                                         for m in tf.getmembers()
                                         if m.isfile()]
                        elif fname.endswith(".gz"):
                            blobs = [_gz.decompress(data)]
                        else:
                            blobs = [data]
                        out: dict[str, list] = {n: [] for n in names}
                        for pc in part_cols:
                            out[pc] = []
                        for blob in blobs:
                            for row in read_excel(blob, sheet)[skip:]:
                                for n, dt in zip(names, dtypes):
                                    src = schema.names.index(n)
                                    cell = (row[src] if src < len(row)
                                            else None)
                                    out[n].append(convert_cell(
                                        cell, dt, delimiter=delim,
                                        date_fmt=fmts.get("date"),
                                        datetime_fmt=fmts.get("datetime"),
                                        time_fmt=fmts.get("time")))
                                for pc in part_cols:
                                    out[pc].append(
                                        str(pdf[pc].iloc[i]))
                        yield pd.DataFrame(out, columns=list(out))

            df = map_in_pandas(raw, decode, out_schema)
        elif fmt == "binary":
            # Reference binary rows: data/relativePath/partIndex
            # (BinaryReadStrategy.java:40) — whole-file fragments for
            # file-copy pipelines.
            from pyspark.sql import functions as F

            base = self._path().rstrip("/") + "/"
            df = spark.read.format("binaryFile").load(self._path()).select(
                F.col("content").alias("data"),
                F.regexp_replace("path", f"^file:{base}", "").alias(
                    "relativePath"),
                F.lit(0).cast("long").alias("partIndex"),
            )
        else:
            spark_fmt, schema, options = self._read_spec()
            df = read_files(spark, spark_fmt, self._path(), options, schema,
                            files)
        if self.opt("read_columns"):
            # Projection applies to FILE columns; partition-path fields
            # (name=x/hobby=y dirs) stay appended, as the reference's
            # parse_partition_from_path does.
            declared = set(fields_opt or {})
            keep = [c for c in df.columns
                    if c not in declared and c not in self.opt("read_columns")]
            df = df.select(*self.opt("read_columns"), *keep)
        return df

    def read_stream(self, spark: SparkSession) -> DataFrame:
        # Spark file streaming needs an explicit schema; infer from a batch
        # read when not declared (driver-side, one-time).
        reader = self._reader(spark.readStream)
        if not self.opt("schema"):
            static = self._reader(spark.read).load(self._path())
            reader = reader.schema(static.schema)
        if self.opt("max_files_per_trigger"):
            reader = reader.option("maxFilesPerTrigger", self.opt("max_files_per_trigger"))
        return reader.load(self._path())
