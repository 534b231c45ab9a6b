from .deterministic import dsum, davg  # noqa: F401
from .vectors import dot_d, cosine_d, l2norm_d  # noqa: F401
