"""Pure-Python connected-components reference for the labeller and tracer
tests: a union-find over a dict raster, no Spark."""


def label_components(values, connectivity=4):
    """Label the connected same-valued regions of ``{(row, col): value}``.

    Two cells connect when they are edge neighbours (``connectivity=4``)
    or edge-or-corner neighbours (``connectivity=8``) with equal values.
    Returns ``{(row, col): (row0, col0)}``: the min cell of each cell's
    component (the labeller's ``comp`` is ``row0 * 2**32 + col0``).
    """
    parent = {cell: cell for cell in values}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    forward = [(1, 0), (0, 1)]
    if connectivity == 8:
        forward += [(1, 1), (1, -1)]
    for (r, c), v in values.items():
        for dr, dc in forward:
            n = (r + dr, c + dc)
            if n in values and values[n] == v:
                ra, rb = find((r, c)), find(n)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {cell: find(cell) for cell in values}


def components(cells):
    """The 4-connected components of a cell set, as a list of cell sets."""
    comps = {}
    for cell, root in label_components(dict.fromkeys(cells, 1)).items():
        comps.setdefault(root, set()).add(cell)
    return list(comps.values())
