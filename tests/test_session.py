"""Host-sized driver heap (session.default_heap): pure parsing, no JVM."""

from __future__ import annotations

from binlog_es_go_spark.session import default_heap


def _meminfo(total_gb: float, avail_gb: float) -> str:
    kb = 1 << 20
    return (f"MemTotal:       {int(total_gb * kb)} kB\n"
            f"MemFree:        {int(avail_gb * kb)} kB\n"
            f"MemAvailable:   {int(avail_gb * kb)} kB\n")


def test_heap_is_a_quarter_of_memory_capped_at_8g():
    assert default_heap(_meminfo(15.7, 15.1)) == ("3g", True)
    assert default_heap(_meminfo(64, 60)) == ("8g", True)
    assert default_heap(_meminfo(256, 250)) == ("8g", True)
    assert default_heap(_meminfo(2, 2)) == ("1g", False)  # 4 x 1g do not fit in 2 GB


def test_pretouch_only_when_the_heaps_fit_in_available_memory():
    assert default_heap(_meminfo(15.7, 12.0)) == ("3g", True)
    assert default_heap(_meminfo(15.7, 11.9)) == ("3g", False)
    assert default_heap(_meminfo(64, 20)) == ("8g", False)


def test_unreadable_meminfo_falls_back_to_small_heap_without_pretouch():
    assert default_heap("") == ("2g", False)
    assert default_heap("MemTotal: 16000000 kB\n") == ("2g", False)
