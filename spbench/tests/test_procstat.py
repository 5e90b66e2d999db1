"""The tree's RSS counts an address space shared with the parent once."""

from spbench import procstat


def _fields(ppid, vsize, rss_pages, startcode, startstack):
    f = ["S"] + ["0"] * 40
    f[1], f[20], f[21], f[23], f[25] = (str(ppid), str(vsize), str(rss_pages),
                                        str(startcode), str(startstack))
    return f


def test_a_child_sharing_its_parents_address_space_is_counted_once(monkeypatch):
    table = {
        1: _fields(0, 5000, 100, 11, 22),   # the JVM
        2: _fields(1, 5000, 100, 11, 22),   # spawning: same address space
        3: _fields(1, 900, 30, 33, 44),     # a child with its own memory
    }
    monkeypatch.setattr(procstat, "_stat_fields", table.get)
    page_mb = procstat._PAGE / 2**20
    assert procstat.rss_mb([1, 2, 3]) == 130 * page_mb
    assert procstat.rss_mb([2, 3]) == 130 * page_mb  # parent not in the tree
