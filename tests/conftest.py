from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# smaller local parallelism for test latency; shuffle partitions follow
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

# Spark driver heap: the session default (24g, sized for a 32-core box) lets the
# JVM grow past the RAM of a small box until the kernel's OOM killer ends
# it mid-suite; a third of RAM, 2-8 GiB, bounds it
_ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(2048, min(8192, _ram_mb // 3))}m")

# one BLAS thread per Python worker (same as bench.py): concurrent tasks ×
# multi-threaded OpenBLAS oversubscribe the box and slow every GEMM 2-3×
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from custom_python_vectordb_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med():
    return SF_MED
