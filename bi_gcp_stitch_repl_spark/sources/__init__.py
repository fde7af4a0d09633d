from .warehouse import Warehouse

__all__ = ["Warehouse"]
