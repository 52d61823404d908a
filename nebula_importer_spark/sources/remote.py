"""Remote source resolution: credentials/endpoint config → Hadoop FS conf.

Reference parity for the per-protocol source implementations
(pkg/source/config.go:4-14 and the per-source option structs):

  S2 S3    pkg/source/s3.go:16-24    endpoint/region/keys/token/bucket/key
  S3 OSS   pkg/source/oss.go:15-21   endpoint/keys/bucket/key
  S4 FTP   pkg/source/ftp.go:13-19   host/port/user/password/path
  S5 SFTP  pkg/source/sftp.go:15-24  host/port/user/password/key/passphrase
  S6 HDFS  pkg/source/hdfs.go:24-36  address/user/kerberos (keytab/ccache)
  S7 GCS   pkg/source/gcs.go:15-22   endpoint/credentials file|json|anon

The Go tool opens one byte stream per object; Spark's Hadoop FS connectors
replace that client plane, so each options block resolves to (URI, conf):
the URI is what ``spark.read`` loads and the conf entries land on the
session's ``hadoopConfiguration`` BEFORE the scan is planned. S3/OSS creds
use per-bucket ``fs.s3a.bucket.<name>.*`` keys so two sources with
different credentials coexist in one session.

FTP/SFTP have no Hadoop FS: they resolve by DOWNLOADING to a local staging
dir (ftplib stdlib / paramiko if installed) and returning a ``file:`` URI —
the reference streams these single-file sources through one reader anyway
(no parallel scan to lose). At 100 TB you would not serve data over FTP;
the shim exists for config compatibility.

Kerberos note: an already-running JVM cannot switch KRB5 config; the
keytab/principal pair must go to ``spark-submit --keytab --principal``.
``resolve()`` still returns those entries (prefixed ``submit.``) so a
launcher (tools/submit.py) can forward them, and applies the in-session
ones (``dfs.data.transfer.protection``, auth mode).
"""

from __future__ import annotations

import fnmatch
import os
import posixpath
import uuid
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from pyspark.sql import SparkSession


class RemoteConfigError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Protocol-agnostic glob walker (reference pkg/source/glob.go:14-98).
#
# The reference wires its walker to local/HDFS sources only; here the same
# algorithm runs over any (is_dir, listdir) pair, so FTP/SFTP globs —
# ``path: /dir/*.csv`` — expand to N staged downloads instead of
# one-file-or-fail. Semantics match sourceGlob: per-directory name match
# (Go filepath.Match ≈ fnmatch: *, ?, [] — * never crosses a separator
# because matching is per path segment), names sorted, glob directories
# recursed, a non-glob pattern returned verbatim.
# ---------------------------------------------------------------------------

_GLOB_CHARS = "*?[\\"  # sourceGlobHas (glob.go:96-98)


def _has_glob(path: str) -> bool:
    return any(c in path for c in _GLOB_CHARS)


def _remote_glob(
    pattern: str,
    is_dir: Callable[[str], bool],
    listdir: Callable[[str], list[str]],
    _depth: int = 0,
) -> list[str]:
    """Expand ``pattern`` against a remote listing. Mirrors
    sourceGlobWithLimit (glob.go:18-57), including the recursion guard."""
    if _depth >= 100:  # CVE-2022-30632-style depth cap (glob.go:20-23)
        raise RemoteConfigError(f"glob pattern too deep: {pattern!r}")
    if not _has_glob(pattern):
        return [pattern]
    head, file = posixpath.split(pattern)
    # cleanGlobPath (glob.go:60-70)
    if head == "":
        head = "."
    if not _has_glob(head):
        return _glob_dir(head, file, is_dir, listdir)
    if head == pattern:  # no separator left yet still glob → malformed
        raise RemoteConfigError(f"bad glob pattern: {pattern!r}")
    out: list[str] = []
    for d in _remote_glob(head, is_dir, listdir, _depth + 1):
        out.extend(_glob_dir(d, file, is_dir, listdir))
    return out


def _glob_dir(
    dir_: str,
    pattern: str,
    is_dir: Callable[[str], bool],
    listdir: Callable[[str], list[str]],
) -> list[str]:
    """One directory level of the walk (glob.go:72-94)."""
    if not is_dir(dir_):
        return []
    names = sorted(n for n in listdir(dir_) if n not in (".", ".."))
    return [
        posixpath.join(dir_, n)
        for n in names
        if fnmatch.fnmatchcase(n, pattern)
    ]


def _stage_matches(
    pattern: str,
    dest_dir: str,
    is_dir: Callable[[str], bool],
    listdir: Callable[[str], list[str]],
    fetch: Callable[[str, str], None],
    proto: str,
) -> str:
    """Expand ``pattern``, fetch every match into a fresh staging subdir,
    and return the scan path: the single staged file for a non-glob path
    (unchanged shim behavior), else the subdir holding all matches.

    Zero matches on a glob is an error — parity with the reference's
    empty-glob rejection (pkg/config/base/source.go:59-61)."""
    from nebula_importer_spark.sources.reader import SourceError

    if not _has_glob(pattern):
        out = Path(dest_dir) / posixpath.basename(pattern)
        fetch(pattern, str(out))
        return str(out)
    # a glob's final segment can match directory NAMES too — only files can
    # be staged (a dir match contributes zero files, like an empty dir)
    matches = [m for m in _remote_glob(pattern, is_dir, listdir) if not is_dir(m)]
    if not matches:
        raise SourceError(f"{proto} source {pattern!r}: no files matched")
    sub = Path(dest_dir) / f"{proto}-{uuid.uuid4().hex[:8]}"
    sub.mkdir(parents=True, exist_ok=True)
    # Matches from different remote dirs can share a basename; an ordinal
    # prefix keeps staged names unique (lineage _file shows the staged
    # name either way — that is already true of the single-file shim).
    for i, m in enumerate(matches):
        fetch(m, str(sub / f"{i:05d}-{posixpath.basename(m)}"))
    return str(sub)


@dataclass
class S3Options:
    """Reference pkg/source/s3.go:16-24."""

    bucket: str
    key: str
    endpoint: str | None = None
    region: str | None = None
    access_key_id: str | None = None
    access_key_secret: str | None = None
    token: str | None = None

    def resolve(self) -> tuple[str, dict[str, str]]:
        if not self.bucket or not self.key:
            raise RemoteConfigError("s3 source requires bucket and key")
        p = f"fs.s3a.bucket.{self.bucket}"
        conf: dict[str, str] = {
            # reference forces path-style addressing (s3.go:47 S3ForcePathStyle)
            f"{p}.path.style.access": "true",
        }
        if self.endpoint:
            conf[f"{p}.endpoint"] = self.endpoint
        if self.region:
            conf[f"{p}.endpoint.region"] = self.region
        if self.access_key_id:
            conf[f"{p}.access.key"] = self.access_key_id
        if self.access_key_secret:
            conf[f"{p}.secret.key"] = self.access_key_secret
        if self.token:
            conf[f"{p}.session.token"] = self.token
            conf[f"{p}.aws.credentials.provider"] = (
                "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
            )
        return f"s3a://{self.bucket}/{self.key.lstrip('/')}", conf


@dataclass
class OSSOptions:
    """Reference pkg/source/oss.go:15-21. Alibaba OSS speaks the S3 API at
    its -internal/compat endpoints; map onto the same per-bucket s3a keys."""

    bucket: str
    key: str
    endpoint: str | None = None
    access_key_id: str | None = None
    access_key_secret: str | None = None

    def resolve(self) -> tuple[str, dict[str, str]]:
        uri, conf = S3Options(
            bucket=self.bucket,
            key=self.key,
            endpoint=self.endpoint,
            access_key_id=self.access_key_id,
            access_key_secret=self.access_key_secret,
        ).resolve()
        return uri, conf


@dataclass
class GCSOptions:
    """Reference pkg/source/gcs.go:15-22."""

    bucket: str
    key: str
    endpoint: str | None = None
    credentials_file: str | None = None
    credentials_json: str | None = None
    without_authentication: bool = False

    def resolve(self, staging_dir: str | None = None) -> tuple[str, dict[str, str]]:
        """Inline ``credentials_json`` is written (mode 0600) to a keyfile
        under ``staging_dir``, which the caller owns and deletes."""
        if not self.bucket or not self.key:
            raise RemoteConfigError("gcs source requires bucket and key")
        conf: dict[str, str] = {}
        if self.endpoint:
            conf["fs.gs.storage.root.url"] = self.endpoint
        if self.credentials_file:
            conf["fs.gs.auth.type"] = "SERVICE_ACCOUNT_JSON_KEYFILE"
            conf["fs.gs.auth.service.account.json.keyfile"] = self.credentials_file
        elif self.credentials_json:
            # connector wants a file; stage the inline JSON (reference
            # gcs.go:48-49 WithCredentialsJSON)
            if staging_dir is None:
                raise RemoteConfigError("gcs credentialsJSON needs a staging dir")
            Path(staging_dir).mkdir(parents=True, exist_ok=True)
            keyfile = os.path.join(staging_dir, "gcs-credentials.json")
            fd = os.open(keyfile, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o600)
            with os.fdopen(fd, "w") as f:
                f.write(self.credentials_json)
            conf["fs.gs.auth.type"] = "SERVICE_ACCOUNT_JSON_KEYFILE"
            conf["fs.gs.auth.service.account.json.keyfile"] = keyfile
        elif self.without_authentication:
            conf["fs.gs.auth.type"] = "UNAUTHENTICATED"
        return f"gs://{self.bucket}/{self.key.lstrip('/')}", conf


@dataclass
class HDFSOptions:
    """Reference pkg/source/hdfs.go:24-36."""

    address: str
    path: str
    user: str | None = None
    service_principal_name: str | None = None
    krb5_config_file: str | None = None
    ccache_file: str | None = None
    keytab_file: str | None = None
    password: str | None = None
    data_transfer_protection: str | None = None

    def resolve(self) -> tuple[str, dict[str, str]]:
        if not self.address or not self.path:
            raise RemoteConfigError("hdfs source requires address and path")
        conf: dict[str, str] = {}
        if self.user:
            # simple-auth identity (reference hdfs.go: client user option)
            conf["env.HADOOP_USER_NAME"] = self.user
        if self.service_principal_name or self.keytab_file or self.ccache_file:
            conf["hadoop.security.authentication"] = "kerberos"
            # JVM-start-time settings a launcher must forward to spark-submit
            if self.keytab_file:
                conf["submit.spark.kerberos.keytab"] = self.keytab_file
            if self.service_principal_name:
                conf["submit.spark.kerberos.principal"] = self.service_principal_name
            if self.krb5_config_file:
                conf["submit.java.security.krb5.conf"] = self.krb5_config_file
            if self.ccache_file:
                conf["submit.KRB5CCNAME"] = self.ccache_file
        if self.data_transfer_protection:
            conf["dfs.data.transfer.protection"] = self.data_transfer_protection
        addr = self.address if "://" in self.address else f"hdfs://{self.address}"
        return f"{addr.rstrip('/')}/{self.path.lstrip('/')}", conf


@dataclass
class FTPOptions:
    """Reference pkg/source/ftp.go:13-19 — staged download, no Hadoop FS."""

    host: str
    path: str
    port: int = 21
    user: str = "anonymous"
    password: str = ""

    def download(self, dest_dir: str) -> str:
        """Stage the remote path locally. Glob patterns (``*?[``) expand via
        the shared walker over one control connection (NLST + CWD probes);
        non-glob paths stay the original single-file fetch."""
        import ftplib

        ftp = ftplib.FTP()
        ftp.connect(self.host, self.port, timeout=5)  # ftp.go:40 5s timeout
        try:
            ftp.login(self.user, self.password)

            def is_dir(p: str) -> bool:
                # CWD probe: portable across servers that lack MLST.
                cur = ftp.pwd()
                try:
                    ftp.cwd(p)
                except ftplib.error_perm:
                    return False
                ftp.cwd(cur)
                return True

            def listdir(p: str) -> list[str]:
                # NLST may return full paths or bare names by server;
                # normalize to names. Many servers answer an EMPTY directory
                # with 550 ("No files found") instead of an empty list — the
                # Go walker treats that as zero entries, so do we; a real
                # permission failure on a non-empty dir still surfaces via
                # the later CWD/RETR steps.
                try:
                    return [posixpath.basename(n) for n in ftp.nlst(p)]
                except ftplib.error_perm as e:
                    if str(e).startswith("550"):
                        return []
                    raise

            def fetch(remote: str, local: str) -> None:
                with open(local, "wb") as fh:
                    ftp.retrbinary(f"RETR {remote}", fh.write)

            return _stage_matches(
                self.path, dest_dir, is_dir, listdir, fetch, "ftp"
            )
        finally:
            ftp.quit()


@dataclass
class SFTPOptions:
    """Reference pkg/source/sftp.go:15-24 — staged download via paramiko
    (optional dependency; a clear error if absent)."""

    host: str
    path: str
    port: int = 22
    user: str = ""
    password: str | None = None
    key_file: str | None = None
    key_data: str | None = None
    passphrase: str | None = None

    def download(self, dest_dir: str) -> str:
        try:
            import paramiko
        except ImportError as e:  # pragma: no cover — not in the sandbox
            raise RemoteConfigError(
                "sftp sources require the 'paramiko' package"
            ) from e
        kwargs: dict = {"username": self.user}
        if self.key_data or self.key_file:
            import io

            # any key type, like the reference's ssh.ParsePrivateKey
            # (pkg/source/sftp.go) — try each paramiko class in turn.
            # DSSKey via getattr: paramiko >= 4 removed DSA support.
            text = self.key_data or Path(self.key_file).read_text()
            classes = [
                cls
                for cls in (
                    paramiko.Ed25519Key,
                    paramiko.ECDSAKey,
                    paramiko.RSAKey,
                    getattr(paramiko, "DSSKey", None),
                )
                if cls is not None
            ]
            errors: list[Exception] = []
            for cls in classes:
                try:
                    kwargs["pkey"] = cls.from_private_key(
                        io.StringIO(text), password=self.passphrase
                    )
                    break
                except paramiko.PasswordRequiredException as e:
                    # the key parsed far enough to know it is encrypted —
                    # report the passphrase problem, not a format guess
                    from nebula_importer_spark.sources.reader import SourceError

                    raise SourceError(
                        f"sftp: private key needs a passphrase ({e})"
                    ) from e
                except paramiko.SSHException as e:
                    errors.append(e)
            else:
                from nebula_importer_spark.sources.reader import SourceError

                detail = "; ".join(
                    f"{c.__name__}: {e}" for c, e in zip(classes, errors)
                )
                raise SourceError(f"sftp: unreadable private key ({detail})")
        elif self.password is not None:
            kwargs["password"] = self.password
        cli = paramiko.SSHClient()
        cli.set_missing_host_key_policy(paramiko.AutoAddPolicy())
        cli.connect(self.host, port=self.port, timeout=5, **kwargs)
        try:
            sftp = cli.open_sftp()
            return self._stage(sftp, dest_dir)
        finally:
            cli.close()

    def _stage(self, sftp, dest_dir: str) -> str:
        """Glob-aware staging over an open SFTP client (separable from
        connect for testability — paramiko is absent in the sandbox)."""
        import stat as stat_mod

        def is_dir(p: str) -> bool:
            try:
                st = sftp.stat(p)
            except OSError:
                return False
            return stat_mod.S_ISDIR(st.st_mode)

        def fetch(remote: str, local: str) -> None:
            sftp.get(remote, local)

        return _stage_matches(
            self.path, dest_dir, is_dir, sftp.listdir, fetch, "sftp"
        )


def apply_hadoop_conf(spark: SparkSession, conf: dict[str, str]) -> None:
    """Apply resolved conf entries to the live session. ``submit.*`` keys
    need the JVM launcher and are skipped here (tools/submit.py forwards
    them); ``env.*`` keys set process env vars read by the Hadoop client."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        if k.startswith("submit."):
            continue
        if k.startswith("env."):
            os.environ[k[len("env.") :]] = v
            continue
        hconf.set(k, v)


def resolve_remote(spark: SparkSession, spec, staging_dir: str) -> str:
    """Resolve a SourceSpec's remote block (if any) to a readable URI,
    applying credential conf / staging downloads as needed. An FTP/SFTP
    download and a GCS inline-credentials keyfile land in ``staging_dir``,
    which the caller owns and deletes. Returns the spec's plain path when
    no remote block is set."""
    for attr in ("s3", "oss", "gcs", "hdfs"):
        opts = getattr(spec, attr, None)
        if opts is not None:
            uri, conf = opts.resolve(staging_dir) if attr == "gcs" else opts.resolve()
            apply_hadoop_conf(spark, conf)
            return uri
    for attr in ("ftp", "sftp"):
        opts = getattr(spec, attr, None)
        if opts is not None:
            Path(staging_dir).mkdir(parents=True, exist_ok=True)
            return opts.download(staging_dir)
    return spec.path
