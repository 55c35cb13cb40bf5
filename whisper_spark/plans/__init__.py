from .routing import route_resolution  # noqa: F401
