"""The DATASUS ETL workload: EP3 -> EP1 -> EP2 through ``runner.main
--batch`` over monthly increments of synthetic PA ``.dbc`` shards.

The untimed first increment publishes one warm-up file of WARM_ROWS
rows. Every timed increment publishes one new file of ROWS_PER_SHARD
rows and re-publishes the warm-up month's file as a correction: new
content of CORRECTION_ROWS rows under the same name, with a later FTP
mtime. Each batch so holds two files (at most ``nproc`` on any host
this runs on) and runs the delete-then-insert path against the growing
Derby target. LIST times have minute resolution, so the re-published
mtime lies in the future and the gate selects that file again in every
timed increment.

Shard sizes: production PA shards hold 10^5 to 10^6 rows; 50k rows is
the size EP1 throughput is quoted at, and it puts the timed increment
in the per-row regime (decode, transform, bronze write, JDBC insert)
rather than the fixed per-stage overhead of small files. The warm-up
file is small because the first increment costs 20-26 s of JIT,
codegen and worker start on 4 vCPUs whatever its size (5k to 10k
rows). A timed increment of one 50k-row file alone spread 0.16-0.21
across five seeds, against 0.05-0.07 with two. The correction is
smaller than the new file so that a run stays near a minute: EP1
decodes the two files in parallel, so its time follows the larger one,
and a 50k-row correction made EP2 and the run about 6 s longer. The
timed shards are generated in a child process while the warm-up
increment runs.

Shards follow the row recipe of the engine's rehearsal test: half the
rows pass the panel and condition gate, so the warehouse holds exactly
half the raw rows of every file published.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import json
import os
import random
import sys
import time
import subprocess
import traceback

import numpy as np

FTP_DIR = "/dissemin/publicos/SIASUS/200801_/Dados"
OLD_STAMP = "09-03-24  03:45PM"
FUTURE_STAMP = "01-01-99  12:00AM"
JOB = "sm_etl_cloud_run_spark.pipelines.rehearsal"
ROWS_PER_SHARD = 50_000  # raw DBC rows in each timed increment's new shard
CORRECTION_ROWS = 20_000  # raw DBC rows in each timed correction
WARM_ROWS = 2_000  # raw DBC rows in the warm-up shard


def implode_literals(data: bytes) -> bytes:
    """Byte-identical to ``dbc_fixtures.implode`` (uncoded literals,
    4-bit dictionary), with the literal stream packed by numpy: the
    bit-at-a-time encoder spends about 10 s per 50k-row shard."""
    from dbc_fixtures import Imploder

    enc = Imploder()  # header bytes written; the bit writer is byte-aligned
    bulk = len(data) - len(data) % 8  # 9 bits a literal: 8 literals = 9 bytes
    if bulk:
        lit = np.frombuffer(data, dtype=np.uint8, count=bulk)
        bits = np.zeros((bulk, 9), dtype=np.uint8)  # flag bit 0, then LSB-first byte
        bits[:, 1:] = np.unpackbits(lit[:, None], axis=1, bitorder="little")
        enc.w.out += np.packbits(bits.ravel(), bitorder="little").tobytes()
    for b in data[bulk:]:
        enc.literal(b)
    return enc.end()


def make_dbc(dbf: bytes) -> bytes:
    """``dbc_fixtures.make_dbc`` with the packed literal encoder."""
    import struct

    (hsize,) = struct.unpack_from("<H", dbf, 8)
    return dbf[:hsize] + b"\x00\x00\x00\x00" + implode_literals(dbf[hsize:])


def shard_bytes(rng: random.Random, rows: int, month: dt.date) -> bytes:
    """One PA shard. Exactly half the rows, chosen by `rng`, are in the
    panel municipality and pass the gate; the rest are dropped by F1."""
    from dbc_fixtures import make_dbf
    from sm_etl_cloud_run_spark.pipelines import PA_SPEC

    cols = PA_SPEC.raw_columns
    yyyymm = month.strftime("%Y%m")
    base = {c: "X" for c in cols}
    base.update({
        "PA_TPUPS": "70", "PA_MVM": yyyymm, "PA_CMP": yyyymm,
        "PA_MN_IND": "M", "PA_OBITO": "1", "PA_ENCERR": "0",
        "PA_PERMAN": "", "PA_ALTA": "1", "PA_TRANSF": "0",
        "PA_MOTSAI": "11", "PA_CNPJMNT": "00000000000000",
        "PA_IDADE": "042", "PA_SRV_C": "121001",
        "PA_CIDPRI": "F200", "PA_CATEND": "01",
    })
    passing = set(rng.sample(range(rows), rows // 2))
    data = []
    for i in range(rows):
        r = dict(base)
        r["PA_CODUNI"] = f"{rng.randrange(10**7):07d}"
        r["PA_PROC_ID"] = f"{rng.randrange(10**9):09d}"
        r["PA_CBOCOD"] = f"{rng.randrange(10**6):06d}"
        r["PA_QTDPRO"] = str(rng.randrange(5, 12))
        r["PA_QTDAPR"] = str(rng.randrange(1, 6))
        if i in passing:
            r["PA_UFMUN"], r["PA_MUNPCN"] = "355030", "355030"
        else:
            r["PA_UFMUN"], r["PA_MUNPCN"] = "111111", "222222"
        data.append([r[c] for c in cols])
    widths = {c: max(1, max(map(len, col))) for c, col in zip(cols, zip(*data))}
    return make_dbc(make_dbf([(c, "C", widths[c]) for c in cols], data))


def _month(i: int) -> dt.date:
    return dt.date(2024 + i // 12, i % 12 + 1, 1)


def _plan(rng: random.Random, inc: int, timed: bool) -> list[tuple[int, int, int]]:
    """(month index, raw rows, shard seed) of each file increment `inc`
    publishes: the warm-up publishes month 0; a timed increment
    publishes month `inc` and a correction of month 0."""
    if not timed:
        return [(inc, WARM_ROWS, rng.getrandbits(64))]
    return [(inc, ROWS_PER_SHARD, rng.getrandbits(64)),
            (0, CORRECTION_ROWS, rng.getrandbits(64))]


def _generate(plan: list[tuple[int, int, int]]) -> list[bytes]:
    return [shard_bytes(random.Random(seed), rows, _month(m)) for m, rows, seed in plan]


class DiskFtp:
    """The ``ftplib.FTP`` subset the engine's client uses, over files on
    disk. The factory ships only paths and stamps to executors; each
    decode task reads its own file."""

    def __init__(self, files: dict[str, str], stamps: dict[str, str]):
        self._files = files
        self._stamps = stamps
        self.closed = False

    def cwd(self, path: str) -> None:
        if path != FTP_DIR:
            raise OSError(f"550 {path}: no such directory")

    def nlst(self) -> list[str]:
        return sorted(self._files)

    def retrlines(self, cmd: str, callback) -> None:
        if cmd != "LIST":
            raise ValueError(cmd)
        for name in sorted(self._files):
            callback(f"{self._stamps[name]}      {self.size(name)} {name}")

    def size(self, name: str) -> int:
        return os.path.getsize(self._files[name])

    def retrbinary(self, cmd: str, callback) -> None:
        with open(self._files[cmd.removeprefix("RETR ")], "rb") as f:
            while chunk := f.read(1 << 16):
                callback(chunk)

    def close(self) -> None:
        self.closed = True


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.startswith("part-")
    )


class EtlWorkload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.files: dict[str, str] = {}   # published name -> path
        self.stamps: dict[str, str] = {}  # published name -> LIST mtime
        self.rows: dict[str, int] = {}    # published name -> raw DBC rows
        work = ctx.work
        self.ftp_root = os.path.join(work, "ftp")
        self.control = os.path.join(work, "sm_metadados_ftp")
        self.bronze = os.path.join(work, "bronze")
        self.derby = f"jdbc:derby:{os.path.join(work, 'warehouse')};create=true"
        os.makedirs(self.ftp_root, exist_ok=True)

    def setup(self, spark) -> None:
        from sm_etl_cloud_run_spark.pipelines import rehearsal

        months = [dt.date(2024 + m // 12, m % 12 + 1, 1) for m in range(36)]
        periods = spark.createDataFrame(
            [(m, f"p-{m:%Y-%m}-M") for m in months], "data_inicio date, id string"
        )
        geo = spark.createDataFrame(
            [("355030", "m-sp"), ("330455", "m-rj")], "id_sus string, id string"
        )
        rehearsal.configure(
            host="ftp.bench", directory=FTP_DIR,
            control_path=self.control, bronze_root=self.bronze,
            panel_ids=["355030", "330455"], periods=periods, geo=geo,
            jdbc_url=self.derby, jdbc_table="pa_fato",
            jdbc_column_types="ftp_arquivo_nome VARCHAR(64)",
        )

    def _publish(self, month: int, rows: int, blob: bytes) -> str:
        """Put a shard of month index `month` on the FTP server."""
        name = f"PASP{_month(month):%y%m}a.dbc"
        path = os.path.join(self.ftp_root, name)
        with open(path, "wb") as f:
            f.write(blob)
        self.files[name] = path
        self.stamps[name] = OLD_STAMP
        self.rows[name] = rows
        return name

    def _generate_ahead(self, plan: list) -> tuple[subprocess.Popen, list[str]]:
        """Start generating `plan`'s shards in a child process, so they
        are ready when the warm-up increment ends. A process, not a
        thread: generation holds the GIL and slowed the warm-up's driver
        side by as much as it hid."""
        out = os.path.join(self.ctx.work, "ahead")
        os.makedirs(out, exist_ok=True)
        paths = [os.path.join(out, f"shard{i}.dbc") for i in range(len(plan))]
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.etl",
             json.dumps({"plan": plan, "out": paths})],
            cwd=self.ctx.repo,
        )
        return proc, paths

    def _transport(self):
        files, stamps = dict(self.files), dict(self.stamps)
        return lambda: DiskFtp(files, stamps)

    def _runner(self, spark, acao: str, job: str) -> int:
        from sm_etl_cloud_run_spark import runner

        out = io.StringIO()
        with self.ctx.tracer.span(f"runner.{acao}"), contextlib.redirect_stdout(out):
            rc = runner.main([
                "--control", self.control, "--tipo", "PA", "--acao", acao,
                "--job", f"{JOB}:{job}", "--batch",
            ])
        if rc != 0:
            raise RuntimeError(f"runner --acao {acao} exited {rc}")
        return json.loads(out.getvalue().strip().splitlines()[0])["pending"]

    def _check(self, spark, expect_pending: int, pending: tuple[int, int]) -> list[str]:
        """The four per-increment checks; returns the problems found."""
        from pyspark.sql import functions as F
        from sm_etl_cloud_run_spark.sources.jdbc import read_jdbc_table

        problems = []
        if pending != (expect_pending, expect_pending):
            problems.append(f"pending {pending}, expected {expect_pending} for both stages")
        per_file = {
            r["ftp_arquivo_nome"]: r["count"]
            for r in read_jdbc_table(spark, self.derby, "pa_fato")
            .groupBy("ftp_arquivo_nome").count().collect()
        }
        raw = sum(self.rows.values())
        if sum(per_file.values()) != raw // 2:
            problems.append(
                f"loaded {sum(per_file.values())} rows, expected half of {raw} raw rows"
            )
        dup = {f: c for f, c in per_file.items() if c != self.rows.get(f, 0) // 2}
        if dup or set(per_file) != set(self.files):
            problems.append(f"per-file row counts off: {dup or sorted(per_file)}")
        ctl = spark.read.parquet(self.control)
        missing = ctl.where(
            F.col("timestamp_etl_gcs").isNull() | F.col("timestamp_load_bd").isNull()
        ).count()
        if missing or ctl.count() != len(self.files):
            problems.append(f"{missing} control rows lack a watermark")
        return problems

    def run(self, spark, rng: random.Random, seconds: float) -> dict:
        from sm_etl_cloud_run_spark.pipelines import rehearsal

        from perfbench.harness import probe_means

        ctx = self.ctx
        tracer = ctx.tracer
        for attr, name in (
            ("refresh_control", "ep3.refresh"),
            ("read_datasus_ftp", "ep1.read_datasus_ftp"),
            ("transform_fact", "ep1.transform_fact"),
            ("write_bronze_csv", "ep1.write_bronze"),
            ("stage_jdbc_load", "ep2.stage_jdbc"),
            ("commit_staged_load", "ep2.commit_jdbc"),
            ("touch_watermark", "sinks.touch_watermark"),
        ):
            tracer.wrap(rehearsal, attr, name)
        ops: list[dict] = []
        fixture_s = 0.0

        def increment(inc: int, timed: bool, plan: list, blobs: list[bytes]) -> dict:
            op_id = f"inc{inc}"
            rec: dict = {"op": op_id, "timed": timed, "ok": False}
            batch = [self._publish(m, rows, b) for (m, rows, _), b in zip(plan, blobs)]
            if timed:  # the correction
                self.stamps[batch[1]] = FUTURE_STAMP
            raw_bytes = sum(os.path.getsize(self.files[f]) for f in batch)
            rehearsal.configure(transport_factory=self._transport())
            probes = [ctx.calib.run()] if timed else []

            def stage(fn, *args):
                """Time one stage. The increment is its round's only op, so
                a timed one probes the host after each stage too, outside
                op time: one probe event alone is too few to steady the
                divisor."""
                t0 = time.perf_counter()
                out = fn(*args)
                took = time.perf_counter() - t0
                if timed:
                    probes.append(ctx.calib.run())
                return took, out

            try:
                with tracer.span("op", op=op_id):
                    ep3_s, _ = stage(rehearsal.refresh_control, spark)
                    ep1_s, p1 = stage(self._runner, spark, "baixar", "ep1_baixar_pa_lote")
                    ep2_s, p2 = stage(self._runner, spark, "inserir", "ep2_inserir_pa_lote")
                if timed:
                    rec.update(probe_means(probes), calib=probes)
                rec.update(
                    op_s=ep3_s + ep1_s + ep2_s, ep3_s=ep3_s, ep1_s=ep1_s, ep2_s=ep2_s,
                    files=len(batch), raw_rows=sum(self.rows[f] for f in batch),
                    raw_bytes=raw_bytes, pending_baixar=p1, pending_inserir=p2,
                    bronze_bytes=sum(_dir_bytes(os.path.join(self.bronze, f)) for f in batch),
                )
                problems = self._check(spark, len(batch), (p1, p2))
                if problems:
                    print(f"MISMATCH {op_id}: {problems}", file=sys.stderr)
                rec["ok"] = not problems
            except Exception:  # a failed increment is a failed op; keep going
                traceback.print_exc()
            ops.append(rec)
            return rec

        try:
            t0 = time.perf_counter()
            warm = _plan(rng, 0, timed=False)
            warm_blobs = _generate(warm)
            plan = _plan(rng, 1, timed=True)
            gen, paths = self._generate_ahead(plan)
            fixture_s += time.perf_counter() - t0
            try:
                increment(0, False, warm, warm_blobs)
            finally:
                t0 = time.perf_counter()
                try:
                    rc = gen.wait(timeout=300)
                except subprocess.TimeoutExpired:
                    gen.kill()
                    rc = gen.wait()
                fixture_s += time.perf_counter() - t0
            if rc != 0:
                raise RuntimeError(f"shard generator exited {rc}")
            blobs = []
            for path in paths:
                with open(path, "rb") as f:
                    blobs.append(f.read())
            for _ in range(2):  # the probe's own JIT warm-up
                ctx.calib.run()
            rounds: list[float] = []
            t_start = time.perf_counter()
            inc = 1
            while not rounds or time.perf_counter() - t_start < seconds:
                if blobs is None:
                    t0 = time.perf_counter()
                    plan = _plan(rng, inc, timed=True)
                    blobs = _generate(plan)
                    fixture_s += time.perf_counter() - t0
                rounds.append(increment(inc, True, plan, blobs).get("op_s", 0.0))
                inc += 1
                blobs = None
            decode = None
            if tracer.enabled:
                decode = self._decode_rate(self.files[sorted(self.files)[-1]])
        finally:
            tracer.restore()
        return {"rounds": rounds, "ops": ops, "fixture_s": fixture_s,
                "decode_mib_per_s": decode}

    @staticmethod
    def _decode_rate(path: str) -> float:
        """Driver-side decode of one shard (what each EP1 task does):
        compressed MiB per second."""
        from sm_etl_cloud_run_spark.sources.dbf import decode_datasus_bytes

        with open(path, "rb") as f:
            blob = f.read()
        t0 = time.perf_counter()
        for _ in decode_datasus_bytes(blob):
            pass
        return len(blob) / (1 << 20) / (time.perf_counter() - t0)


if __name__ == "__main__":
    # python3 -m perfbench.etl '{"plan": [[month, rows, seed], ...], "out": [path, ...]}'
    # from the repo root: writes each planned shard to its path.
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tests"))  # dbc_fixtures
    job = json.loads(sys.argv[1])
    for blob, path in zip(_generate([tuple(p) for p in job["plan"]]), job["out"]):
        with open(path, "wb") as f:
            f.write(blob)
