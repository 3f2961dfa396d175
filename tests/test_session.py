"""Session defaults fit the host they run on."""

from debezium_spark.session import host_fit

MEMINFO = """MemTotal:       16315000 kB
MemFree:         1200000 kB
MemAvailable:   15920156 kB
Buffers:          100000 kB
"""


def test_host_fit_uses_every_cpu_and_half_the_available_memory():
    # 15920156 kB available is 15.2 GiB: half of it is 7g in whole GiB
    assert host_fit(4, MEMINFO) == (4, "7g")
    assert host_fit(32, MEMINFO.replace("15920156", "134217728")) == (32, "64g")


def test_host_fit_floors_at_one_core_and_one_gib():
    assert host_fit(0, MEMINFO.replace("15920156", "900000")) == (1, "1g")
