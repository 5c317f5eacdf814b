from .ivf import IVFIndex, assign_centroids, build_ivf
from .pq import IVFPQIndex, build_ivfpq
