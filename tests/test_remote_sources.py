"""Remote source blocks (S2-S7): credential/endpoint config must resolve to
the right URI + Hadoop conf keys (reference pkg/source/{s3,oss,gcs,hdfs}.go
option structs), reference examples/s3-shaped YAML must parse, and the
FTP staging shim must ingest end-to-end (fake server — no FTP daemon in the
sandbox; the ftplib call surface is exercised via injection)."""

from __future__ import annotations

import textwrap
from pathlib import Path

import pytest

from nebula_importer_spark.config.model import ConfigError, SourceSpec
from nebula_importer_spark.config.parse import config_from_dict, load_config
from nebula_importer_spark.sources.remote import (
    FTPOptions,
    GCSOptions,
    HDFSOptions,
    S3Options,
    apply_hadoop_conf,
    resolve_remote,
)


def test_s3_options_resolve_uri_and_conf():
    uri, conf = S3Options(
        bucket="b1", key="dir/data.csv", endpoint="http://minio:9000",
        region="us-east-1", access_key_id="AK", access_key_secret="SK",
        token="TOK",
    ).resolve()
    assert uri == "s3a://b1/dir/data.csv"
    assert conf["fs.s3a.bucket.b1.endpoint"] == "http://minio:9000"
    assert conf["fs.s3a.bucket.b1.endpoint.region"] == "us-east-1"
    assert conf["fs.s3a.bucket.b1.access.key"] == "AK"
    assert conf["fs.s3a.bucket.b1.secret.key"] == "SK"
    assert conf["fs.s3a.bucket.b1.session.token"] == "TOK"
    assert "TemporaryAWSCredentialsProvider" in conf["fs.s3a.bucket.b1.aws.credentials.provider"]
    assert conf["fs.s3a.bucket.b1.path.style.access"] == "true"


def test_gcs_and_hdfs_resolve():
    uri, conf = GCSOptions(
        bucket="gb", key="k.csv", credentials_file="/tmp/cred.json"
    ).resolve()
    assert uri == "gs://gb/k.csv"
    assert conf["fs.gs.auth.type"] == "SERVICE_ACCOUNT_JSON_KEYFILE"
    assert conf["fs.gs.auth.service.account.json.keyfile"] == "/tmp/cred.json"

    uri, conf = HDFSOptions(
        address="nn1:8020", path="/data/*.csv", user="etl",
        service_principal_name="nn/_HOST@REALM", keytab_file="/etc/k.keytab",
        data_transfer_protection="privacy",
    ).resolve()
    assert uri == "hdfs://nn1:8020/data/*.csv"
    assert conf["hadoop.security.authentication"] == "kerberos"
    assert conf["dfs.data.transfer.protection"] == "privacy"
    # JVM-start-time items are marked for the submit launcher, not applied live
    assert conf["submit.spark.kerberos.keytab"] == "/etc/k.keytab"
    assert conf["env.HADOOP_USER_NAME"] == "etl"


def test_gcs_inline_credentials_are_written_under_the_staging_dir(spark, tmp_path):
    """credentialsJSON becomes a 0600 keyfile in the scan's staging dir,
    which the scan's owner deletes, and never a file in the system temp
    dir."""
    import os
    import stat
    import tempfile
    import uuid

    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    secret = f'{{"type": "service_account", "private_key_id": "{uuid.uuid4().hex}"}}'
    stage = tmp_path / "stage"
    spec = SourceSpec(
        gcs=GCSOptions(bucket="gb", key="k.csv", credentials_json=secret),
        tags=[],
        edges=[],
    )
    assert resolve_remote(spark, spec, str(stage)) == "gs://gb/k.csv"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    keyfile = Path(hconf.get("fs.gs.auth.service.account.json.keyfile"))
    assert keyfile.parent == stage
    assert keyfile.read_text() == secret
    assert stat.S_IMODE(keyfile.stat().st_mode) == 0o600
    leaked = [
        name
        for name in set(os.listdir(tmp)) - before
        if os.path.isfile(os.path.join(tmp, name))
        and secret in Path(tmp, name).read_text(errors="replace")
    ]
    assert leaked == []


def test_apply_hadoop_conf_sets_live_session_keys(spark, tmp_path):
    spec = SourceSpec(
        s3=S3Options(bucket="bx", key="k.csv", endpoint="http://e:9000",
                     access_key_id="A", access_key_secret="S"),
        tags=[],
        edges=[],
    )
    uri = resolve_remote(spark, spec, str(tmp_path))
    assert uri == "s3a://bx/k.csv"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.bucket.bx.endpoint") == "http://e:9000"
    assert hconf.get("fs.s3a.bucket.bx.access.key") == "A"


def test_s3_shaped_yaml_parses(tmp_path):
    cfg_file = tmp_path / "s3.yaml"
    cfg_file.write_text(textwrap.dedent("""
        manager:
          spaceName: s3_examples
          hooks:
            before:
              - statements:
                  - CREATE SPACE IF NOT EXISTS `s3_examples`(vid_type = INT)
                wait: 1s
        sources:
          - s3:
              region: us-east-1
              bucket: gdelt-open-data
              key: events/20190918.export.csv
            csv:
              delimiter: "\\t"
            tags:
              - name: Tag
                id: {type: "INT", index: 0}
                props:
                  - {name: "date", type: "STRING", index: 1}
          - s3:
              endpoint: http://192.168.0.10:9000
              accessKeyID: minioadmin
              accessKeySecret: minioadmin
              bucket: nebula-importer
              key: events/20190918.export.csv
            tags:
              - name: Tag2
                id: {type: "INT", index: 0}
                props: []
    """))
    cfg = load_config(cfg_file)
    assert cfg.space == "s3_examples"
    assert cfg.before_hooks[0].wait_sec == 1.0
    s0, s1 = cfg.sources
    assert s0.s3.region == "us-east-1" and s0.s3.bucket == "gdelt-open-data"
    assert s1.s3.endpoint == "http://192.168.0.10:9000"
    assert s1.s3.access_key_id == "minioadmin"
    assert s0.s3.resolve()[0].startswith("s3a://gdelt-open-data/")


def test_all_remote_protocol_yaml_shapes_parse(tmp_path):
    """Every reference example protocol block (examples/{oss,gcs,hdfs,ftp,
    sftp}) re-expressed: parse → typed options → resolvable URI/conf."""
    import yaml

    tag = [{"name": "t", "id": {"type": "STRING", "index": 0}}]
    cfg = {
        "sources": [
            {"oss": {"endpoint": "oss-cn-hangzhou.aliyuncs.com",
                     "accessKeyID": "ak", "accessKeySecret": "sk",
                     "bucket": "ob", "key": "d.csv"}, "tags": tag},
            {"gcs": {"withoutAuthentication": True, "bucket": "gb",
                     "key": "d.csv"}, "tags": tag},
            {"hdfs": {"address": "nn:8020", "path": "/d/*.csv",
                      "user": "etl"}, "tags": tag},
            {"ftp": {"host": "f.example", "port": 2121, "user": "u",
                     "password": "p", "path": "/d.csv"}, "tags": tag},
            {"sftp": {"host": "s.example", "user": "u", "keyFile": "/k",
                      "passphrase": "x", "path": "/d.csv"}, "tags": tag},
        ]
    }
    f = tmp_path / "remotes.yaml"
    f.write_text(yaml.safe_dump(cfg))
    parsed = load_config(f)
    oss, gcs, hdfs, ftp, sftp = parsed.sources
    assert oss.oss.resolve()[0] == "s3a://ob/d.csv"
    uri, conf = gcs.gcs.resolve()
    assert uri == "gs://gb/d.csv" and conf["fs.gs.auth.type"] == "UNAUTHENTICATED"
    assert hdfs.hdfs.resolve()[0] == "hdfs://nn:8020/d/*.csv"
    assert ftp.ftp.port == 2121 and ftp.ftp.user == "u"
    assert sftp.sftp.key_file == "/k" and sftp.sftp.passphrase == "x"


def test_unsupported_config_version_errors():
    """Reference pkg/config/config.go:26-46 version dispatch: unknown
    client.version must error, not silently run as v3."""
    base = {
        "client": {"version": "v9"},
        "sources": [{"path": "x.csv", "tags": [
            {"name": "t", "id": {"type": "STRING", "index": 0}}
        ]}],
    }
    with pytest.raises(ConfigError, match="version"):
        config_from_dict(base)
    base["client"]["version"] = "v3"
    assert config_from_dict(base).sources[0].path.endswith("x.csv")


def test_multiple_remote_blocks_rejected():
    spec = SourceSpec(
        s3=S3Options(bucket="a", key="k"),
        ftp=FTPOptions(host="h", path="/p"),
        tags=[],
    )
    with pytest.raises(ConfigError):
        config_from_dict({"sources": []})  # no sources is also an error
    with pytest.raises(ConfigError):
        spec.validate()


def test_remote_glob_walker_matches_reference_semantics():
    """_remote_glob mirrors pkg/source/glob.go:14-98: per-segment match,
    sorted names, glob-directory recursion, non-glob passthrough."""
    from nebula_importer_spark.sources.remote import RemoteConfigError, _remote_glob

    tree = {
        "/data": ["b2", "a1", "readme.txt"],
        "/data/a1": ["y.csv", "x.csv", "notes.md"],
        "/data/b2": ["z.csv", "sub"],
        "/data/b2/sub": ["w.csv"],
    }

    def is_dir(p):
        return p in tree

    def listdir(p):
        return tree[p]

    # plain file part over one dir — sorted
    assert _remote_glob("/data/a1/*.csv", is_dir, listdir) == [
        "/data/a1/x.csv",
        "/data/a1/y.csv",
    ]
    # glob directory component recurses; dirs that match also list
    assert _remote_glob("/data/*/*.csv", is_dir, listdir) == [
        "/data/a1/x.csv",
        "/data/a1/y.csv",
        "/data/b2/z.csv",
    ]
    # ? and [] classes
    assert _remote_glob("/data/a?/[xy].csv", is_dir, listdir) == [
        "/data/a1/x.csv",
        "/data/a1/y.csv",
    ]
    # non-glob pattern returned verbatim (glob.go:29-31)
    assert _remote_glob("/data/a1/x.csv", is_dir, listdir) == ["/data/a1/x.csv"]
    # zero matches → empty list (caller raises)
    assert _remote_glob("/data/a1/*.json", is_dir, listdir) == []
    # recursion guard (glob.go:20-23 pathSeparatorsLimit analog)
    deep = "/" + "/".join(["*"] * 120) + "/x.csv"
    with pytest.raises(RemoteConfigError, match="too deep"):
        _remote_glob(deep, lambda p: True, lambda p: ["a"])


class _GlobFakeFTP:
    """ftplib surface for glob staging: pwd/cwd/nlst/retrbinary."""

    tree = {
        "/pub": ["two.csv", "one.csv", "skip.txt"],
    }
    files = {
        "/pub/one.csv": b"a1,Amy\n",
        "/pub/two.csv": b"a2,Ben\n",
    }

    def __init__(self):
        self._cwd = "/"

    def connect(self, host, port, timeout=None):
        pass

    def login(self, user, password):
        pass

    def pwd(self):
        return self._cwd

    def cwd(self, path):
        import ftplib

        if path not in self.tree and path != "/":
            raise ftplib.error_perm(f"550 {path}: Not a directory")
        self._cwd = path

    def nlst(self, path):
        return [f"{path}/{n}" for n in self.tree[path]]

    def retrbinary(self, cmd, sink):
        sink(self.files[cmd.removeprefix("RETR ")])

    def quit(self):
        pass


def test_ftp_glob_stages_all_matches(tmp_path, monkeypatch):
    import ftplib

    from nebula_importer_spark.sources.remote import FTPOptions

    monkeypatch.setattr(ftplib, "FTP", _GlobFakeFTP)
    out = FTPOptions(host="h", path="/pub/*.csv").download(str(tmp_path))
    staged = sorted(p.name for p in Path(out).iterdir())
    assert staged == ["00000-one.csv", "00001-two.csv"]
    assert (Path(out) / "00000-one.csv").read_bytes() == b"a1,Amy\n"


def test_ftp_glob_zero_match_is_source_error(tmp_path, monkeypatch):
    import ftplib

    from nebula_importer_spark.sources.reader import SourceError
    from nebula_importer_spark.sources.remote import FTPOptions

    monkeypatch.setattr(ftplib, "FTP", _GlobFakeFTP)
    with pytest.raises(SourceError, match="no files matched"):
        FTPOptions(host="h", path="/pub/*.parquet").download(str(tmp_path))


def test_ftp_glob_empty_dir_550_is_zero_entries(tmp_path, monkeypatch):
    """Many FTP servers answer NLST on an EMPTY directory with 550 instead
    of an empty list; the walker must treat that as zero entries (like the
    Go reference), not abort the whole glob (review finding)."""
    import ftplib

    from nebula_importer_spark.sources.remote import FTPOptions

    class EmptyDirFTP(_GlobFakeFTP):
        tree = {"/pub": ["sub", "one.csv"], "/pub/sub": []}
        files = {"/pub/one.csv": b"a1,Amy\n"}

        def nlst(self, path):
            if not self.tree.get(path):
                raise ftplib.error_perm("550 No files found")
            return [f"{path}/{n}" for n in self.tree[path]]

        def cwd(self, path):
            if path not in self.tree and path != "/":
                raise ftplib.error_perm(f"550 {path}: Not a directory")
            self._cwd = path

    monkeypatch.setattr(ftplib, "FTP", EmptyDirFTP)
    # glob descends into sub/ (empty → 550) AND matches the real file
    out = FTPOptions(host="h", path="/pub/*").download(str(tmp_path))
    staged = sorted(p.name for p in Path(out).iterdir())
    assert staged == ["00000-one.csv"]


def test_sftp_glob_stages_all_matches(tmp_path):
    """SFTP staging through a fake client (paramiko absent in sandbox);
    exercises the stat/listdir/get surface _stage drives."""
    import stat as stat_mod

    from nebula_importer_spark.sources.remote import SFTPOptions

    class St:
        def __init__(self, d):
            self.st_mode = stat_mod.S_IFDIR if d else stat_mod.S_IFREG

    class FakeSFTP:
        tree = {"/d": ["b.csv", "a.csv"]}
        files = {"/d/a.csv": b"x\n", "/d/b.csv": b"y\n"}

        def stat(self, p):
            if p in self.tree:
                return St(True)
            if p in self.files:
                return St(False)
            raise FileNotFoundError(p)

        def listdir(self, p):
            return self.tree[p]

        def get(self, remote, local):
            Path(local).write_bytes(self.files[remote])

    out = SFTPOptions(host="h", path="/d/?.csv")._stage(FakeSFTP(), str(tmp_path))
    staged = sorted(p.name for p in Path(out).iterdir())
    assert staged == ["00000-a.csv", "00001-b.csv"]


def test_ftp_glob_ingest_end_to_end(spark, tmp_path, monkeypatch):
    """Glob FTP source → N staged files → one CSV scan → mapped vertices."""
    import ftplib

    from nebula_importer_spark.config.model import (
        GraphConfig,
        NodeIDSpec,
        NodeSpec,
        PropSpec,
    )
    from nebula_importer_spark.plans.pipeline import Pipeline

    monkeypatch.setattr(ftplib, "FTP", _GlobFakeFTP)
    cfg = GraphConfig(
        space="s",
        sources=[
            SourceSpec(
                ftp=FTPOptions(host="h", path="/pub/*.csv"),
                tags=[
                    NodeSpec(
                        "person",
                        NodeIDSpec(type="STRING", index=0),
                        [PropSpec("name", "STRING", 1)],
                    )
                ],
            )
        ],
    )
    p = Pipeline(cfg, spark, staging_dir=str(tmp_path))
    rows = {r["vid"]: r["name"] for r in p.vertices("person").collect()}
    assert rows == {"a1": "Amy", "a2": "Ben"}


def test_ftp_staged_ingest_end_to_end(spark, tmp_path, monkeypatch):
    """FTP source → staged download → CSV scan → mapped vertices, with the
    ftplib surface faked (connect/login/retrbinary/quit)."""
    import ftplib

    served = b"f1,Fay\nf2,Gil\n"
    calls = {}

    class FakeFTP:
        def connect(self, host, port, timeout=None):
            calls["connect"] = (host, port)

        def login(self, user, password):
            calls["login"] = (user, password)

        def retrbinary(self, cmd, sink):
            calls["cmd"] = cmd
            sink(served)

        def quit(self):
            calls["quit"] = True

    monkeypatch.setattr(ftplib, "FTP", FakeFTP)

    from nebula_importer_spark.config.model import (
        GraphConfig,
        NodeIDSpec,
        NodeSpec,
        PropSpec,
    )
    from nebula_importer_spark.plans.pipeline import Pipeline

    cfg = GraphConfig(
        space="s",
        sources=[
            SourceSpec(
                ftp=FTPOptions(host="ftp.example", port=2121, user="u",
                               password="p", path="/pub/people.csv"),
                tags=[
                    NodeSpec(
                        "person",
                        NodeIDSpec(type="STRING", index=0),
                        [PropSpec("name", "STRING", 1)],
                    )
                ],
            )
        ],
    )
    p = Pipeline(cfg, spark, staging_dir=str(tmp_path))
    rows = {r["vid"]: r["name"] for r in p.vertices("person").collect()}
    assert rows == {"f1": "Fay", "f2": "Gil"}
    assert calls["connect"] == ("ftp.example", 2121)
    assert calls["login"] == ("u", "p")
    assert calls["cmd"] == "RETR /pub/people.csv"
    assert calls["quit"] is True
